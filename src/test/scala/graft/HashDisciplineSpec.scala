package graft

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source scan: the FNV-1a and splitmix64 kernels exist once, in
  * `graft.functions.Hash64`. Every native that hashes calls it from
  * `nullSafeEval` and `doGenCode` alike, so the interpreted and the
  * generated path cannot drift, and `HashSql`'s DuckDB replay takes its
  * constants from it. A hand-written copy of a kernel, in Scala or as
  * Java text in a `doGenCode`, shows up as a copy of its constants. No
  * Spark session is started. */
class HashDisciplineSpec extends AnyFunSuite {

  /** Each kernel constant in the spellings a copy could use: hex,
    * unsigned and signed decimal. */
  private val constants = Map(
    "FNV-1a prime" -> Seq("100000001b3", "1099511628211"),
    "splitmix64 C1" -> Seq("bf58476d1ce4e5b9", "13787848793156543929",
      "4658895280553007687"),
    "splitmix64 C2" -> Seq("94d049bb133111eb", "10723151780598845931",
      "7723592293110705685"))

  private val Kernel = "functions/Hash64.scala"
  private val Replay = "ops/HashSql.scala"

  /** Occurrences of one constant's spellings in a source text. */
  private def uses(src: String, spellings: Seq[String]): Int = {
    val lower = src.toLowerCase
    spellings.map(s => s"(?<![0-9a-f])$s(?![0-9a-f])".r.findAllIn(lower).size).sum
  }

  /** (constant, file) -> occurrences, for the files that use it. */
  private def census(files: Seq[(String, String)]): Map[(String, String), Int] =
    (for {
      (name, spellings) <- constants.toSeq
      (path, src) <- files
      n = uses(src, spellings)
      if n > 0
    } yield (name, path) -> n).toMap

  /** Uses that break the rule: any outside Hash64 and HashSql, and more
    * than one in HashSql. */
  private def offenders(files: Seq[(String, String)]): Map[(String, String), Int] =
    census(files).filter { case ((_, path), n) =>
      !path.endsWith(Kernel) && !(path.endsWith(Replay) && n == 1)
    }

  test("the scanner finds every spelling and allows one replay copy") {
    val copy = "h = (h ^ (h >>> 30)) * 0xBF58476D1CE4E5B9L; x * 1099511628211L"
    assert(census(Seq("a/X.scala" -> copy)).keySet ==
      Set(("splitmix64 C1", "a/X.scala"), ("FNV-1a prime", "a/X.scala")))
    assert(uses("-4658895280553007687L", constants("splitmix64 C1")) == 1)
    assert(uses("0x100000001b3L", constants("FNV-1a prime")) == 1)
    assert(uses("21099511628211", constants("FNV-1a prime")) == 0)
    assert(offenders(Seq(s"src/$Replay" -> "BigInt(\"94d049bb133111eb\", 16)")).isEmpty)
    assert(offenders(Seq(s"src/$Replay" -> "94d049bb133111eb 94d049bb133111eb")).nonEmpty)
    assert(offenders(Seq(s"src/$Kernel" -> copy)).isEmpty)
  }

  test("src/main spells the hash kernels' constants only in Hash64") {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map(f => f.toString -> new String(java.nio.file.Files.readAllBytes(f), "UTF-8"))
    assert(files.size > 50, s"expected the main sources, found ${files.size}")
    val bad = offenders(files)
    assert(bad.isEmpty,
      "call graft.functions.Hash64 instead of copying its kernel: " +
        bad.toSeq.sorted.map { case ((c, f), n) => s"$f: $c x$n" }.mkString(", "))
    val kernel = census(files).keys.filter(_._2.endsWith(Kernel)).map(_._1).toSet
    assert(kernel == constants.keySet, s"Hash64 must define every constant: $kernel")
  }
}
