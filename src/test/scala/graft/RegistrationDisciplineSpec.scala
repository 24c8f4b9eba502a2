package graft

import org.scalatest.funsuite.AnyFunSuite

/** Structural guard against the snapshot-parking failure mode (q179/
  * q180 in round 8, q201/q202 in round 9): a query registered in
  * `SparkEntry.queries` without its oracle, SURVEY §2C row, PLANS.md
  * entry, or honest README count now fails the suite instead of
  * surfacing a round later in the judge's CORRECTNESS diff.
  *
  * Reads the docs from the repo root (sbt runs tests with the project
  * root as the working directory). Pure string checks — no Spark
  * session, so the spec costs nothing. */
class RegistrationDisciplineSpec extends AnyFunSuite {

  private def read(p: String): String = {
    val f = new java.io.File(p)
    assert(f.isFile, s"$p must exist at the repo root")
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.mkString finally src.close()
  }

  /** Queries whose semantics cannot be expressed in DuckDB SQL would
    * go here with a one-line justification each. Currently empty —
    * every registered query is oracle-checked. */
  private val oracleExempt: Set[String] = Set.empty

  /** PLANS.md documents every query from the round-4 wave onward
    * (q142+) individually; earlier queries are covered by §2C rows
    * plus the headline-plans section. */
  private val plansDocumentedFrom = 142

  private def qNum(key: String): Int =
    key.drop(1).takeWhile(_.isDigit).toInt

  test("every query key has an oracleSql entry or an explicit exemption") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    val missing = (q -- o -- oracleExempt).toSeq.sorted
    assert(missing.isEmpty,
      s"registered without an oracle or exemption: ${missing.mkString(", ")}")
    val orphaned = (o -- q).toSeq.sorted
    assert(orphaned.isEmpty,
      s"oracleSql entries with no registered query: ${orphaned.mkString(", ")}")
  }

  test("every query id appears in SURVEY.md's coverage map") {
    val survey = read("SURVEY.md")
    val missing = SparkEntry.queries.keySet.toSeq.sorted.filter { k =>
      val id = k.takeWhile(_ != '_') // e.g. "q201"
      // \b keeps q20 from matching inside q200
      !s"\\b$id\\b".r.findFirstIn(survey).isDefined
    }
    assert(missing.isEmpty,
      s"queries with no SURVEY.md citation: ${missing.mkString(", ")}")
  }

  test(s"every query from q$plansDocumentedFrom on has a PLANS.md entry") {
    val plans = read("PLANS.md")
    // entries appear as "## qNNN_name" plan sections or "**qNNN_name**"
    // prose bullets — either form counts, so check the full key
    val missing = SparkEntry.queries.keySet.toSeq.sorted
      .filter(k => qNum(k) >= plansDocumentedFrom)
      .filterNot(plans.contains)
    assert(missing.isEmpty,
      s"queries with no PLANS.md entry: ${missing.mkString(", ")}")
  }

  /** Queries from the round-4 wave on (q140+) that deliberately have
    * no ScaleRehearsal row, each with the reason. The rehearsal's 10x
    * corpora scale documents/embeddings/events ONLY, so relational-
    * fact queries can't ride it; their scaling evidence is the
    * bucketed-layout plan asserts (PlanShapeSpec/BucketingSpec) plus
    * the sf0.001→sf0.1 (100x) bench series in BASELINE.md. */
  private val rehearsalExempt: Map[String, String] = Map(
    "q140" -> "orders-grain freshness audit (relational facts)",
    "q141" -> "events-grain day-join; shape covered by q177/q178 rows",
    "q142" -> "bucketed twin of q141 (same shape, fewer exchanges)",
    "q143" -> "per-key linear LOCF window; shape covered by q180 row",
    "q144" -> "id-bounded audit slice by design (maxId=200)",
    "q158" -> "customer/orders-grain l-diversity (relational facts)",
    "q162" -> "per-key linear EWMA window; shape covered by q180 row",
    "q192" -> "id-bounded estimator-accuracy audit slice by design",
    "q218" -> "TPC-H Q8 analog (relational facts)",
    "q219" -> "customer-grain k-anon ladder (relational facts)",
    "q224" -> "rollup over nation/region dims (relational facts)",
    "q225" -> "TPC-H-style latency trend (relational facts)",
    "q226" -> "TPC-H Q13 analog (relational facts)",
    "q230" -> "TPC-H Q5 analog (relational facts)",
    "q231" -> "TPC-H Q10 analog (relational facts)",
    "q232" -> "TPC-H Q14 analog (relational facts)",
    "q233" -> "TPC-H Q22 analog (relational facts)",
    "q242" -> ("source-grain aggregate of q241's per-word stats " +
      "(same encode, same plan below the final aggregate)"),
    "q243" -> ("chunk arithmetic over q241's encode (two map-side " +
      "aggregates past the measured vocab-bounded plan)"),
    "q244" -> "TPC-H Q6 analog (relational facts)",
    "q245" -> "TPC-H Q9 analog (relational facts)",
    "q246" -> "TPC-H Q11 analog (relational facts)",
    "q247" -> "TPC-H Q12 analog (relational facts)",
    "q248" -> "TPC-H Q15 analog (relational facts)",
    "q249" -> "TPC-H Q16 analog (relational facts)",
    "q250" -> "TPC-H Q17 analog (relational facts)",
    "q251" -> "TPC-H Q19 analog (relational facts)",
    "q252" -> "TPC-H Q20 analog (relational facts)",
    "q253" -> "TPC-H Q2 analog (relational facts)",
    "q256" -> ("contract read over q255's trained artifact (same " +
      "state; the training cost is q255's rehearsal row)"),
    "q257" -> ("16-round prefix of q255's measured trainer + a " +
      "vocab-row fold chain (shape covered by q255's row)"),
    "q258" -> ("the q126/q126i measured index pipeline at a looser " +
      "prefix cut + three single-partition windows over the tiny " +
      "verified set"),
    "q269" -> ("id-bounded tuner audit slice by design (maxId=200, " +
      "the q144/q192 discipline); the S-curve fold is over a " +
      "domain-bounded 5-plan x 21-bin grid whatever the corpus"))

  test("every query from q140 on has a ScaleRehearsal row or exemption") {
    val rehearsal = read("src/test/scala/graft/ScaleRehearsal.scala")
    val missing = SparkEntry.queries.keySet.toSeq.sorted
      .filter(k => qNum(k) >= 140)
      .filter { k =>
        val id = k.takeWhile(_ != '_')
        !rehearsalExempt.contains(id) &&
          !s"\\b$id\\b".r.findFirstIn(rehearsal).isDefined
      }
    assert(missing.isEmpty,
      "queries with neither a ScaleRehearsal row nor an exemption: " +
        missing.mkString(", "))
    // exemptions must not mask a row that exists (stale exemption)
    val stale = rehearsalExempt.keys.toSeq.sorted
      .filter(id => s"""wanted\\("$id"\\)""".r.findFirstIn(rehearsal).isDefined)
    assert(stale.isEmpty,
      s"exempted queries that now HAVE rehearsal rows: ${stale.mkString(", ")}")
  }

  test("the standing 100x decade rows stay in ScaleRehearsal") {
    // VERDICT r12 #7: the two ops whose scaling earned a second
    // growth decade (q213 k-core, q238 closure audit) re-measure
    // their 1x/10x/100x exponents on every rehearsal run — removing
    // the standing rows demotes measured scaling claims back to
    // one-time prose, so their absence fails the suite.
    val rehearsal = read("src/test/scala/graft/ScaleRehearsal.scala")
    Seq("decadeOps", "q213_kcore_decade", "q238_closure_audit_decade",
      "_exponents").foreach { marker =>
      assert(rehearsal.contains(marker),
        s"ScaleRehearsal lost its standing decade row marker '$marker'")
    }
  }

  test("every registered query has an sf0.1 verification ledger entry") {
    // SF01_LEDGER.json is written ONLY by tools/check.py matching a
    // query's hash against DuckDB at sf0.1 — so presence here means
    // "was verified at full scale at least once", the standing form
    // of round 11's one-time sweep. Registering a query without an
    // sf0.1 run now fails the suite (q254's round-11 failure mode).
    val ledger = read("SF01_LEDGER.json")
    val missing = SparkEntry.queries.keySet.toSeq.sorted.filter { k =>
      !ledger.contains("\"" + k + "\"")
    }
    assert(missing.isEmpty,
      "queries never verified at sf0.1 (run Verify + tools/check.py " +
        s"against /root/testdata/sf0.1): ${missing.mkString(", ")}")
  }

  test("README.md's registered-query count matches SparkEntry") {
    val readme = read("README.md")
    val m = "(\\d+) named queries".r.findFirstMatchIn(readme)
    assert(m.isDefined, "README.md must state '<N> named queries'")
    assert(m.get.group(1).toInt == SparkEntry.queries.size,
      s"README claims ${m.get.group(1)} queries; SparkEntry registers " +
        s"${SparkEntry.queries.size} — update README.md")
  }
}
