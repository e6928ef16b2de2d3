package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The engine's environment surface is a closed list of deployment levers.
  * An env read that selects an algorithm keeps a superseded form buildable
  * beside the shipped one; this spec makes adding one a deliberate edit of
  * the list below (and of README's lever table), not a drive-by. Mains
  * under `tools/` are experiment drivers and read their own knobs. */
class EnvKnobSpec extends AnyFunSuite {

  private val levers = Set(
    "CPUS", "SF_DIR", "WARM_DIR", "BENCH_REPS"
  ).map("SPARK_GRAFT_" + _)

  private val root = Paths.get("src/main/scala/graft")

  private val envRead = """sys\.env\b|System\.getenv\b""".r
  private val namedRead =
    """(?:sys\.env(?:\.(?:get|getOrElse|contains|apply))?|System\.getenv)\s*\(\s*"([A-Z0-9_]+)"""".r

  test("engine code outside tools/ reads exactly the declared env levers") {
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val tools = root.resolve("tools")
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !p.startsWith(tools))
      .toSeq
    val reads: Seq[(Path, Int, String)] = files.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.flatMap { case (line, i) =>
        val named = namedRead.findAllMatchIn(line).map(_.group(1)).toSeq
        // every read must name its variable literally, so the list is total
        assert(envRead.findAllIn(line).size == named.size,
          s"$f:${i + 1}: env read without a literal name: ${line.trim}")
        named.map(n => (f, i + 1, n))
      }
    }
    val undeclared = reads.filterNot(r => levers(r._3))
    assert(undeclared.isEmpty, "env reads outside the declared levers:\n" +
      undeclared.map { case (f, l, n) => s"  $f:$l $n" }.mkString("\n"))
    assert(reads.map(_._3).toSet == levers)
  }

  test("README's lever table lists exactly the declared env levers") {
    val rows = Files.readAllLines(Paths.get("README.md")).asScala
      .flatMap("""^\| `(SPARK_GRAFT_[A-Z0-9_]+)`""".r.findFirstMatchIn(_))
      .map(_.group(1))
    assert(rows.toSet == levers && rows.size == levers.size, rows)
  }

  test("README's Tools list names exactly the mains under tools/") {
    val objectDecl = """^\s*object (\w+)""".r
    val mains = Files.list(root.resolve("tools")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.flatMap { f =>
        // a main belongs to the nearest object declared above it
        Files.readAllLines(f).asScala.foldLeft((Option.empty[String],
            Seq.empty[String])) { case ((obj, found), line) =>
          val o = objectDecl.findFirstMatchIn(line).map(_.group(1)).orElse(obj)
          (o, if (line.contains("def main(")) found ++ o else found)
        }._2
      }
    val listed = Files.readAllLines(Paths.get("README.md")).asScala
      .dropWhile(_ != "### Tools").drop(1).takeWhile(!_.startsWith("#"))
      .flatMap("""^- `(\w+)""".r.findFirstMatchIn(_)).map(_.group(1))
    assert(mains.nonEmpty)
    assert(listed.sorted == mains.sorted,
      s"README lists ${listed.sorted}, tools/ defines ${mains.sorted}")
  }
}
