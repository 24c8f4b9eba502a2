package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Data sanitization (reference op R12) — the capability the reference
  * ADVERTISES but never implements: README.md:11 claims "Data
  * Sanitization (JSON conversion, NumPy handling)" and pins
  * pandas/numpy (requirements.txt:1-2), yet neither is imported in
  * either script. We implement the claimed surface Spark-first: JSON
  * normalization via from_json/to_json (the JSONB columns of
  * event-table.sql:15-16), numeric coercion via cast (NULL on
  * failure, never an exception), and explicit null policies.
  *
  * All pure column expressions — codegen'd, no UDFs, no shuffle.
  */
object Sanitize {

  /** Canonicalize a JSON string column: parse then re-serialize so key
    * order/whitespace are engine-normalized (SURVEY.md §7 risk 4 —
    * never compare raw JSONB strings). */
  def canonicalJson(c: Column, schema: DataType): Column =
    to_json(from_json(c, schema))

  /** Numeric coercion: cast that yields NULL on garbage (ANSI off for
    * this expression via try_cast semantics). */
  def toLongOrNull(c: Column): Column = c.try_cast("long")

  /** PII redaction patterns — deliberately simple RE2-compatible
    * regexes (no backreferences, no lookaround) so the same patterns
    * run under Java regex (Spark) and RE2 (DuckDB oracle, 'g' flag).
    * Order matters: emails before the bare-number patterns so the
    * local part isn't half-eaten. */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"              -> "<IP>",
    "\\b[0-9]{3}[- .][0-9]{3,4}[- .][0-9]{4}\\b"      -> "<PHONE>")

  /** Redact emails / IPv4s / phone-shaped numbers from a text column —
    * the scrub pass a training-data pipeline runs before anything else
    * ships. Pure chained regexp_replace: codegen'd, narrow, no UDF. */
  def redactPii(c: Column): Column =
    PiiPatterns.foldLeft(c) { case (acc, (re, tag)) =>
      regexp_replace(acc, re, tag)
    }

  /** Query entry: redacted documents + a was-changed audit flag. */
  def redactDocuments(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val docs = graft.Tables.documents(spark, dir)
    docs.select(col("doc_id"),
        redactPii(col("text")).as("text_redacted"),
        (redactPii(col("text")) =!= col("text")).as("was_redacted"))
      .orderBy(col("doc_id"), col("text_redacted"), col("was_redacted"))
  }

  /** PII hit-rate audit per source — the governance dashboard behind
    * the q64 scrub: for each (source, PII type), total pattern hits,
    * documents containing at least one, and the document hit rate in
    * integer ppm. Runs the SAME RE2-safe pattern list as the redactor
    * so the audit can never disagree with the scrub about what counts
    * as PII. One codegen'd projection (three regex counts per row)
    * and one keyed aggregate; the long (source, type) shape comes from
    * a stack unpivot of the aggregate, not from scanning per type. */
  def piiAudit(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val names = Seq("email", "ip", "phone")
    val counted = PiiPatterns.zip(names).foldLeft(
      graft.Tables.documents(spark, dir).select(col("source"),
        col("text"))) { case (df, ((re, _), nm)) =>
      df.withColumn(s"h_$nm",
        size(regexp_extract_all(col("text"), lit(re), lit(0)))
          .cast("long"))
    }
    val agg = counted.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        expr("sum(h_email)").as("hits_email"),
        expr("count_if(h_email > 0)").as("dh_email"),
        expr("sum(h_ip)").as("hits_ip"),
        expr("count_if(h_ip > 0)").as("dh_ip"),
        expr("sum(h_phone)").as("hits_phone"),
        expr("count_if(h_phone > 0)").as("dh_phone"))
    agg.select(col("source"), col("n_docs"), expr(
      "stack(3, 'email', hits_email, dh_email," +
        " 'ip', hits_ip, dh_ip," +
        " 'phone', hits_phone, dh_phone) AS (pii_type, hits, docs_hit)"))
      .select(col("source"), col("pii_type"), col("n_docs"), col("hits"),
        col("docs_hit"),
        expr("docs_hit * 1000000 div n_docs").as("docs_hit_ppm"))
      .orderBy(col("source"), col("pii_type"), col("n_docs"), col("hits"),
        col("docs_hit"), col("docs_hit_ppm"))
  }

  /** Redaction-completeness audit (q195): per (source, PII type),
    * pattern hits BEFORE and AFTER the q64 redaction pass — the
    * invariant check that the scrub actually scrubbed (hits_after
    * must be zero corpus-wide). Non-vacuous because chained
    * regexp_replace CAN leak: a replacement rewrites the string the
    * NEXT pattern scans, so a poorly-ordered chain could splice
    * digits across a removed span into a fresh phone/IP match — the
    * planted spec constructs exactly that adjacency and asserts the
    * shipped order survives it. Both sides replay fully in DuckDB
    * (regexp_replace 'g' + count), so the zeros are hash-checked,
    * not asserted.
    *
    * One projection (3 redactions + 6 regex counts per row), one
    * keyed aggregate, a stack to long form — the q138 shape twice. */
  def redactionComplete(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    redactionCompleteDocs(graft.Tables.documents(spark, dir))

  /** Frame-based core of [[redactionComplete]] (needs source, text). */
  def redactionCompleteDocs(docs: DataFrame): DataFrame = {
    val names = Seq("email", "ip", "phone")
    val base = docs.select(col("source"), col("text"),
      redactPii(col("text")).as("red"))
    val counted = PiiPatterns.zip(names).foldLeft(base) {
      case (df, ((re, _), nm)) =>
        df.withColumn(s"b_$nm",
            size(regexp_extract_all(col("text"), lit(re), lit(0)))
              .cast("long"))
          .withColumn(s"a_$nm",
            size(regexp_extract_all(col("red"), lit(re), lit(0)))
              .cast("long"))
    }
    counted.groupBy(col("source"))
      .agg(expr("sum(b_email)").as("be"), expr("sum(a_email)").as("ae"),
        expr("sum(b_ip)").as("bi"), expr("sum(a_ip)").as("ai"),
        expr("sum(b_phone)").as("bp"), expr("sum(a_phone)").as("ap"))
      .select(col("source"), expr(
        "stack(3, 'email', be, ae, 'ip', bi, ai, 'phone', bp, ap)" +
          " AS (pii_type, hits_before, hits_after)"))
      .select(col("source"), col("pii_type"), col("hits_before"),
        col("hits_after"))
      .orderBy(col("source"), col("pii_type"), col("hits_before"),
        col("hits_after"))
  }

  /** DuckDB oracle for [[redactionComplete]] — the same chained
    * replace (the 'g' flag = Spark's replace-all) and counts. */
  val redactionCompleteOracleSql: String = {
    val reps = PiiPatterns.map { case (re, tag) =>
      (re.replace("'", "''"), tag)
    }
    val redExpr = reps.foldLeft("text") { case (acc, (re, tag)) =>
      s"regexp_replace($acc, '$re', '$tag', 'g')"
    }
    def cnt(colE: String, re: String) =
      s"LEN(regexp_extract_all($colE, '$re'))"
    s"""WITH r AS (
       |  SELECT source, text, $redExpr AS red FROM documents),
       |a AS (
       |  SELECT source,
       |    SUM(${cnt("text", reps(0)._1)}) AS be,
       |    SUM(${cnt("red", reps(0)._1)}) AS ae,
       |    SUM(${cnt("text", reps(1)._1)}) AS bi,
       |    SUM(${cnt("red", reps(1)._1)}) AS ai,
       |    SUM(${cnt("text", reps(2)._1)}) AS bp,
       |    SUM(${cnt("red", reps(2)._1)}) AS ap
       |  FROM r GROUP BY source),
       |u AS (
       |  SELECT source, 'email' AS pii_type, be AS hits_before,
       |    ae AS hits_after FROM a
       |  UNION ALL SELECT source, 'ip', bi, ai FROM a
       |  UNION ALL SELECT source, 'phone', bp, ap FROM a)
       |SELECT source, pii_type,
       |  CAST(hits_before AS BIGINT) AS hits_before,
       |  CAST(hits_after AS BIGINT) AS hits_after
       |FROM u
       |ORDER BY source, pii_type, hits_before, hits_after""".stripMargin
  }

  /** PII co-occurrence matrix (q190): corpus-wide document counts for
    * every unordered PAIR of PII types (plus the diagonal) — the risk
    * lens q138's per-type rates miss: an email alone is an address,
    * an email CO-OCCURRING with a phone in one document is a
    * contactable identity (linkage risk compounds; k-anonymity q133's
    * text-column cousin). Same RE2-safe pattern list as the redactor,
    * so the matrix can never disagree with the scrub. One codegen'd
    * projection (three boolean flags per row), one 1-row conditional
    * aggregate, a 6-row stack — no shuffle of documents.
    */
  def piiCooccurrence(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    piiCooccurrenceDocs(graft.Tables.documents(spark, dir))

  /** Frame-based core of [[piiCooccurrence]] (needs text). */
  def piiCooccurrenceDocs(docs: DataFrame): DataFrame = {
    val names = Seq("email", "ip", "phone")
    val flagged = PiiPatterns.zip(names).foldLeft(docs.select(col("text"))) {
      case (df, ((re, _), nm)) =>
        df.withColumn(s"f_$nm",
          size(regexp_extract_all(col("text"), lit(re), lit(0))) > 0)
    }
    val agg = flagged.agg(
      count(lit(1)).as("n_docs"),
      expr("count_if(f_email AND f_email)").as("c_ee"),
      expr("count_if(f_email AND f_ip)").as("c_ei"),
      expr("count_if(f_email AND f_phone)").as("c_ep"),
      expr("count_if(f_ip AND f_ip)").as("c_ii"),
      expr("count_if(f_ip AND f_phone)").as("c_ip"),
      expr("count_if(f_phone AND f_phone)").as("c_pp"))
    agg.select(col("n_docs"), expr(
        "stack(6, 'email', 'email', c_ee, 'email', 'ip', c_ei," +
          " 'email', 'phone', c_ep, 'ip', 'ip', c_ii," +
          " 'ip', 'phone', c_ip, 'phone', 'phone', c_pp)" +
          " AS (pii_a, pii_b, n_both)"))
      .select(col("pii_a"), col("pii_b"), col("n_docs"), col("n_both"),
        expr("n_both * 1000000 div n_docs").as("both_ppm"))
      .orderBy(col("pii_a"), col("pii_b"), col("n_docs"), col("n_both"),
        col("both_ppm"))
  }

  /** DuckDB oracle for [[piiCooccurrence]] — same patterns ('g' flag
    * irrelevant: only presence is tested), same 6-row matrix. */
  val piiCooccurrenceOracleSql: String = {
    // patterns pass through verbatim (SQL single-quoted strings do no
    // backslash processing — the q138 oracle convention)
    val Seq(reE, reI, reP) = PiiPatterns.map(_._1.replace("'", "''"))
    def f(re: String) = s"regexp_matches(text, '$re')"
    s"""WITH fl AS (
       |  SELECT ${f(reE)} AS fe, ${f(reI)} AS fi, ${f(reP)} AS fp
       |  FROM documents),
       |a AS (
       |  SELECT COUNT(*) AS n_docs,
       |    COUNT(*) FILTER (fe) AS c_ee,
       |    COUNT(*) FILTER (fe AND fi) AS c_ei,
       |    COUNT(*) FILTER (fe AND fp) AS c_ep,
       |    COUNT(*) FILTER (fi) AS c_ii,
       |    COUNT(*) FILTER (fi AND fp) AS c_ip,
       |    COUNT(*) FILTER (fp) AS c_pp
       |  FROM fl),
       |m AS (
       |  SELECT 'email' AS pii_a, 'email' AS pii_b, n_docs, c_ee AS n_both FROM a
       |  UNION ALL SELECT 'email', 'ip', n_docs, c_ei FROM a
       |  UNION ALL SELECT 'email', 'phone', n_docs, c_ep FROM a
       |  UNION ALL SELECT 'ip', 'ip', n_docs, c_ii FROM a
       |  UNION ALL SELECT 'ip', 'phone', n_docs, c_ip FROM a
       |  UNION ALL SELECT 'phone', 'phone', n_docs, c_pp FROM a)
       |SELECT pii_a, pii_b, CAST(n_docs AS BIGINT) AS n_docs,
       |  CAST(n_both AS BIGINT) AS n_both,
       |  CAST(n_both * 1000000 // n_docs AS BIGINT) AS both_ppm
       |FROM m
       |ORDER BY pii_a, pii_b, n_docs, n_both, both_ppm""".stripMargin
  }

  /** Sanitized view of the events table: props parsed + canonicalized,
    * numeric k extracted, value defaulted.
    *
    * `props` is parsed ONCE into a struct column and both outputs
    * derive from it — Catalyst does not CSE two independent
    * `from_json` calls, and the double parse dominated this query's
    * bench time. CollapseProject keeps the intermediate projection
    * (it refuses to inline a non-cheap expression referenced twice),
    * so the single parse survives optimization — SanitizeSpec pins
    * the plan to one JsonToStructs. */
  def sanitizeEvents(events: DataFrame): DataFrame = {
    val schema = StructType.fromDDL("k LONG")
    events
      .withColumn("props_struct", from_json(col("props"), schema))
      .withColumn("k_val", col("props_struct").getField("k"))
      .withColumn("props_canonical", to_json(col("props_struct")))
      .drop("props_struct")
      .na.fill(Map("value" -> 0.0))
  }
}
