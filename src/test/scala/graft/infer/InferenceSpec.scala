package graft.infer

import org.scalatest.funsuite.AnyFunSuite

class InferenceSpec extends AnyFunSuite {

  test("HalvingClient halves content until the call succeeds (digest_module.py:117-131)") {
    var seen = List.empty[Int]
    val picky = new InferenceClient {
      override def complete(p: String): String = {
        val content = p.substring(p.lastIndexOf('|') + 1)
        seen ::= content.length
        if (content.length > 100) throw new RuntimeException("too long")
        s"ok:${content.length}"
      }
    }
    val c = new HalvingClient(picky)
    val out = c.complete("DIGEST|meta|" + ("x" * 800))
    assert(out == "ok:100")
    // 800 -> 400 -> 200 -> 100: four attempts
    assert(seen.reverse == List(800, 400, 200, 100))
  }

  test("HalvingClient gives up with the fallback after maxAttempts") {
    val always = new InferenceClient {
      override def complete(p: String): String = throw new RuntimeException("no")
    }
    val c = new HalvingClient(always, maxAttempts = 3, fallback = "EMPTY")
    assert(c.complete("DIGEST|m|" + "y" * 64) == "EMPTY")
  }

  test("HalvingClient tries a batch once, then halves per prompt") {
    val batches = new java.util.concurrent.atomic.AtomicInteger
    val picky = new InferenceClient {
      override def complete(p: String): String =
        if (p.length > 20) throw new RuntimeException("too long") else s"ok:$p"
      override def completeBatch(ps: Seq[String]): Seq[String] = {
        batches.incrementAndGet()
        ps.map(complete)
      }
    }
    val c = new HalvingClient(picky)
    assert(c.completeBatch(Seq("D|short", "D|tiny")) == Seq("ok:D|short", "ok:D|tiny"))
    assert(c.completeBatch(Seq("D|short", "D|" + "z" * 64)) ==
      Seq("ok:D|short", "ok:D|" + "z" * 16))
    assert(batches.get == 2)
  }

  test("MockInference protocol is deterministic") {
    val m = new MockInference
    val p = "SUGGEST|outline|digest text"
    assert(m.complete(p) == m.complete(p))
    assert(m.complete("EVAL|abc") == m.complete("EVAL|abc"))
  }
}
