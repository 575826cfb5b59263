package graft

import graft.operators._
import graft.queries._
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §2 (one `queries` entry
  * per inventory line) and §5 (engine-parity rules the oracle SQL
  * mirrors expression-for-expression).
  *
  * The registrations live in one object per operator family under
  * `graft.queries`, each query declared once with its name, builder
  * and oracle; this object is their union.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. As-of pricing: every event tagged with the most recent
    * daily close — runs the custom AsOfJoin operator stack
    * (logical node → pushdown rule → strategy → sort-merge exec) on
    * whatever session the driver provides.
    */
  def entry(spark: SparkSession): DataFrame =
    FinAnalytics.asofPrice(Tables(spark, "/root/testdata/sf0.001").events)

  private val families: Seq[Family] = Seq(RelationalQueries, FinQueries,
    MaintenanceQueries, EventsQueries, TextQueries, DedupQueries, AnnQueries,
    CurationQueries, MultimodalQueries)

  /** Every query of `families`. A name declared twice fails here: a
    * map union would silently keep one of the two.
    */
  private[graft] def union(families: Seq[Family]): Seq[Query] = {
    val all = families.flatMap(_.queries)
    val twice = all.groupBy(_.name).collect { case (name, qs) if qs.size > 1 => name }
    require(twice.isEmpty, s"query names declared twice: ${twice.toSeq.sorted.mkString(", ")}")
    all
  }

  private lazy val registry: Seq[Query] = union(families)
  private lazy val builders = registry.map(q => q.name -> q.build).toMap

  /** Every registered query's builder, by name. Builds no oracle. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = builders

  /** Every oracle, by query name, with its CTE heads materialized. */
  def oracleSql: Map[String, String] = registry.flatMap(q => q.oracle.map(sql =>
    q.name -> (if (noMaterialize(q.name)) sql else materializeCtes(sql)))).toMap

  /** Rewrite every TOP-LEVEL CTE head `name AS (` to
    * `name AS MATERIALIZED (` so DuckDB evaluates each chain link
    * ONCE. DuckDB inlines CTEs by default, so a k-deep unrolled
    * Lloyd/PQ chain whose round t references round t-1 several
    * times re-evaluates the whole prefix per reference — the
    * ann_ivfpq_residual replay alone measured ~9 minutes at sf0.01
    * (the round-12 driver gate timed out on exactly this and wrote
    * an empty artifact). Materialized, the full 161-oracle replay is
    * ~19 s. Semantics are unchanged (MATERIALIZED is an evaluation
    * hint). The scan is paren-depth-aware AND string-literal-aware:
    * single-quoted literals (with '' escapes) copy through verbatim —
    * their parens never touch the depth counter and a literal
    * spelling "x AS (" never rewrites — and only depth-0 CTE heads
    * whose body starts with SELECT/WITH are rewritten, so window
    * clauses (`WINDOW w AS (PARTITION …)`) and nested WITHs are
    * untouched, and queries in `noMaterialize` pass through verbatim
    * (curate_pipeline nests three sub-oracles that each define a CTE
    * named `t` next to the recursive top-level `t` — DuckDB's binder
    * mis-shadows the duplicates once siblings materialize; it runs
    * in ~0.6 s inlined).
    */
  private[graft] def materializeCtes(sql: String): String = {
    val head = java.util.regex.Pattern.compile("[A-Za-z_][A-Za-z0-9_]* AS \\(")
    val out = new StringBuilder(sql.length + 512)
    var i = 0
    var depth = 0
    while (i < sql.length) {
      val ch = sql.charAt(i)
      if (ch == '\'') {
        // copy a single-quoted SQL literal verbatim ('' is the escape):
        // a paren inside a literal must not move the depth counter (a
        // BALANCED-overall shift — ')' in one literal, '(' in a later
        // one — would silently mis-classify depth 0 and skip or
        // mis-materialize heads), and a literal spelling "x AS (" must
        // not rewrite. An unterminated quote copies to EOF — the
        // oracle was already broken SQL in that case.
        val start = i
        i += 1
        var closed = false
        while (i < sql.length && !closed) {
          if (sql.charAt(i) == '\'') {
            if (i + 1 < sql.length && sql.charAt(i + 1) == '\'') i += 2
            else { i += 1; closed = true }
          } else i += 1
        }
        out.append(sql.substring(start, i))
      }
      else if (ch == '(') { depth += 1; out.append(ch); i += 1 }
      else if (ch == ')') { depth -= 1; out.append(ch); i += 1 }
      else if (depth == 0) {
        val m = head.matcher(sql)
        if (m.region(i, sql.length).lookingAt()) {
          var j = m.end()
          while (j < sql.length && (sql.charAt(j) == ' ' || sql.charAt(j) == '\n' || sql.charAt(j) == '\t')) j += 1
          val body = sql.substring(j, math.min(j + 6, sql.length)).toUpperCase
          if ((body.startsWith("SELECT") || body.startsWith("WITH"))
              && !materializeCtesSelfRef(sql, i, m.end()))
            out.append(sql.substring(i, m.end() - 1)).append("MATERIALIZED (")
          else
            out.append(sql.substring(i, m.end()))
          depth += 1
          i = m.end()
        } else { out.append(ch); i += 1 }
      } else { out.append(ch); i += 1 }
    }
    out.toString
  }

  /** True when the CTE whose head starts at `start` (name up to the
    * " AS (") references its own name inside its body — a RECURSIVE
    * CTE. DuckDB silently mis-evaluates `x AS MATERIALIZED (...)`
    * when x is recursive (the ann_opq greedy loop came back with 17
    * of 64 steps), so the materialization hint must skip it. Body
    * extent is found by paren balancing with the same quoted-literal
    * skip rule as the main scanner.
    */
  private def materializeCtesSelfRef(sql: String, start: Int, bodyOpen: Int): Boolean = {
    val name = sql.substring(start, sql.indexOf(" AS", start))
    var i = bodyOpen // just past the '('
    var depth = 1
    val body = new StringBuilder
    while (i < sql.length && depth > 0) {
      val ch = sql.charAt(i)
      if (ch == '\'') {
        i += 1
        var closed = false
        while (i < sql.length && !closed) {
          if (sql.charAt(i) == '\'') {
            if (i + 1 < sql.length && sql.charAt(i + 1) == '\'') i += 2
            else { i += 1; closed = true }
          } else i += 1
        }
      } else {
        if (ch == '(') depth += 1
        else if (ch == ')') depth -= 1
        if (depth > 0) body.append(ch)
        i += 1
      }
    }
    java.util.regex.Pattern.compile("\\b" + java.util.regex.Pattern.quote(name) + "\\b")
      .matcher(body).find()
  }

  private val noMaterialize = Set("curate_pipeline")
}
