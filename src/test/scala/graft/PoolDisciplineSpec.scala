package graft

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source scan: `src/main` never runs work on Scala's global
  * `ExecutionContext`. A global-pool thread is created by whichever
  * caller first needs one, so it does not reliably carry the current
  * caller's Spark local properties (job group, scheduler pool, tags),
  * and a blocking wait parked on it outlives the call that started it.
  * Code that needs threads makes its own pool and shuts it down, as
  * `Transfer.migrate` does. No Spark session is started. */
class PoolDisciplineSpec extends AnyFunSuite {

  private val globalPool = """ExecutionContext\s*\.\s*global|Implicits\s*\.\s*global""".r

  private def globalPoolUses(src: String): Seq[String] =
    globalPool.findAllIn(src).toSeq

  test("the scanner finds global-pool uses") {
    assert(globalPoolUses(
      "import scala.concurrent.ExecutionContext.Implicits.global").nonEmpty)
    assert(globalPoolUses("Future(x)(ExecutionContext.global)").nonEmpty)
    assert(globalPoolUses(
      "implicit val ec = ExecutionContext.fromExecutor(pool)").isEmpty)
  }

  test("src/main never uses the global ExecutionContext") {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, s"expected the main sources, found ${files.size}")
    val offenders = files.filter(f =>
      globalPoolUses(new String(java.nio.file.Files.readAllBytes(f), "UTF-8")).nonEmpty)
    assert(offenders.isEmpty,
      s"use a pool the caller creates and shuts down: ${offenders.mkString(", ")}")
  }
}
