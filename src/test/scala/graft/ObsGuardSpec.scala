package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The engine has one telemetry layer, `graft.obs`. A listener registered
  * anywhere else is a second instrument, and a sleep in main code is a guess
  * at how long the asynchronous listener bus takes; `Telemetry.measure`
  * drains the bus instead. Likewise it has one batching path to the model,
  * `graft.infer.InferOps.completeAll`, and one way to make a kernel Column,
  * `org.apache.spark.sql.KernelColumn`. */
class ObsGuardSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private def matches(pattern: String): Seq[(Path, Int, String)] = {
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val re = pattern.r
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { f =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if re.findFirstIn(line).isDefined => (f, i + 1, line.trim)
        }
      }
  }

  private def show(hits: Seq[(Path, Int, String)]): String =
    hits.map { case (f, l, s) => s"  $f:$l $s" }.mkString("\n")

  test("listeners are registered only in graft/obs") {
    val obs = root.resolve("graft/obs")
    val outside = matches("""addSparkListener|listenerManager\.register|streams\.addListener""")
      .filterNot(_._1.startsWith(obs))
    assert(outside.isEmpty, "listener registrations outside graft/obs:\n" + show(outside))
  }

  test("the only sleep in main code is the inference retry backoff") {
    val sleeps = matches("""Thread\.sleep""")
    assert(sleeps.map(_._1.getFileName.toString) == Seq("InferenceClient.scala"),
      "sleeps in main code:\n" + show(sleeps))
  }

  test("completeBatch is called only in graft/infer") {
    val infer = root.resolve("graft/infer")
    val outside = matches("""\.completeBatch\b""").filterNot(_._1.startsWith(infer))
    assert(outside.isEmpty, "completeBatch calls outside graft/infer:\n" + show(outside))
  }

  test("kernel Columns never write the session function registry") {
    val hits = matches("""createOrReplaceTempFunction|call_function""")
    assert(hits.isEmpty, "function-registry writes in main code:\n" + show(hits))
  }
}
