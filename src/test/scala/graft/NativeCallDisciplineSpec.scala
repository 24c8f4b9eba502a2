package graft

import graft.functions.GraftFunctions
import org.scalatest.funsuite.AnyFunSuite

/** Source scan: operators call graft's native expressions through the
  * typed builders in `GraftFunctions`, never by SQL name. A SQL name
  * resolves only on a session that registered it, so an `expr(...)` or
  * `call_function(...)` string naming one breaks every fresh session
  * (`newSession()`) that reaches it. No Spark session is started. */
class NativeCallDisciplineSpec extends AnyFunSuite {

  private val names: Set[String] = GraftFunctions.sqlFunctions.map(_._1).toSet
  private val builderFile = "GraftFunctions.scala"
  private val callers = Seq("expr(", "selectExpr(", "call_function(")

  /** The string literals inside each `expr(`/`selectExpr(`/
    * `call_function(` argument list of `src`, one Seq per call. */
  private def callLiterals(src: String): Seq[Seq[String]] = {
    val starts = callers.flatMap { c =>
      Iterator.iterate(src.indexOf(c))(i => src.indexOf(c, i + 1))
        .takeWhile(_ >= 0)
        .filter(i => i == 0 || !src(i - 1).isLetterOrDigit)
        .map(_ + c.length)
    }
    starts.map { from =>
      val lits = Seq.newBuilder[String]
      var depth = 1
      var i = from
      while (depth > 0 && i < src.length) {
        if (src.startsWith("//", i)) {
          i = src.indexOf('\n', i)
        } else if (src.startsWith("/*", i)) {
          i = src.indexOf("*/", i) + 2
        } else if (src(i) == '\'' && i + 2 < src.length &&
            (src(i + 2) == '\'' || src(i + 1) == '\\')) {
          i = src.indexOf('\'', i + 2) + 1 // char literal: '(' or '\n'
        } else if (src.startsWith("\"\"\"", i)) {
          val end = src.indexOf("\"\"\"", i + 3)
          lits += src.substring(i + 3, end)
          i = end + 3
        } else if (src(i) == '"') {
          val sb = new StringBuilder
          i += 1
          while (src(i) != '"') {
            if (src(i) == '\\') i += 1
            sb += src(i)
            i += 1
          }
          lits += sb.result()
          i += 1
        } else {
          if (src(i) == '(') depth += 1
          if (src(i) == ')') depth -= 1
          i += 1
        }
      }
      lits.result()
    }
  }

  /** Native SQL names called inside `src`'s expr/call_function strings. */
  private def nativeCalls(src: String): Seq[String] =
    callLiterals(src).flatten.flatMap { lit =>
      names.filter(n => s"(^|[^A-Za-z0-9_])$n\\s*\\(".r.findFirstIn(lit).isDefined ||
        lit == n)
    }.distinct.sorted

  private def mainSources: Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(new java.io.File("src/main/scala"))
  }

  private def read(f: java.io.File): String = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.mkString finally src.close()
  }

  test("the scanner finds SQL-name calls and ignores built-ins") {
    assert(names.size == 25)
    assert(nativeCalls("""x.withColumn("s", expr("shingle8(text)"))""") ==
      Seq("shingle8"))
    assert(nativeCalls("""call_function("dotf", a, b)""") == Seq("dotf"))
    assert(nativeCalls(
      "expr(\n  s\"\"\"pmod(rolling_hash(text),\n  ${p}L)\"\"\")") ==
      Seq("rolling_hash"))
    assert(nativeCalls("""df.selectExpr("eq_count(a, b) AS n")""") ==
      Seq("eq_count"))
    assert(nativeCalls(
      """expr("size(x)"); call_function("div", a, lit(2)); shingle8(c)""")
      .isEmpty)
  }

  test("src/main calls natives through typed builders, never by SQL name") {
    val files = mainSources.filterNot(_.getName == builderFile)
    assert(files.size > 50, s"expected the main sources, found ${files.size}")
    val offenders = files.flatMap { f =>
      val src = read(f)
      val reg =
        if (src.contains("GraftFunctions.register(")) Seq("register") else Nil
      (reg ++ nativeCalls(src)).map(n => s"${f.getPath}: $n")
    }
    assert(offenders.isEmpty,
      "call the GraftFunctions builder instead of the SQL name (and drop " +
        s"GraftFunctions.register): ${offenders.mkString(", ")}")
  }
}
