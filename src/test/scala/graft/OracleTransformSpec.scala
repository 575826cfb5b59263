package graft

import graft.queries.{Family, Query}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the oracle CTE-materialization rewrite
  * ([[SparkEntry.materializeCtes]]): DuckDB inlines CTEs by default,
  * so every deep unrolled chain (Lloyd/PQ/ridge/GBT) re-evaluates its
  * whole prefix per reference — the round-12 driver gate timed out on
  * exactly that (~9 min for one oracle) and wrote an empty artifact.
  * The rewrite must hit every top-level CTE head and NOTHING else:
  * window clauses share the `name AS (` surface form and nested WITHs
  * must stay inlined (DuckDB's binder mis-shadows duplicate sibling
  * CTE names once materialized — the curate_pipeline case).
  */
class OracleTransformSpec extends AnyFunSuite {

  test("top-level CTE heads gain MATERIALIZED; window clauses and nested WITHs do not") {
    val sql =
      """WITH a AS (SELECT 1 AS x),
        |b AS (WITH t AS (SELECT 2 AS y) SELECT y FROM t),
        |c AS (SELECT x, sum(x) OVER w AS s FROM a WINDOW w AS (PARTITION BY x), w2 AS (ORDER BY x))
        |SELECT * FROM c""".stripMargin
    val got = SparkEntry.materializeCtes(sql)
    assert(got.contains("a AS MATERIALIZED (SELECT 1"))
    assert(got.contains("b AS MATERIALIZED (WITH t AS (SELECT 2"),
      "the nested CTE head must stay un-materialized")
    assert(got.contains("WINDOW w AS (PARTITION BY x), w2 AS (ORDER BY x)"),
      "window definitions must be untouched")
    // the rewrite inserts ONLY the keyword — nothing else may change
    assert(got.replace(" AS MATERIALIZED (", " AS (") === sql)
  }

  test("SQL without CTEs passes through byte-identical") {
    val sql = "SELECT o_custkey, max(o_orderdate) AS d FROM orders GROUP BY o_custkey"
    assert(SparkEntry.materializeCtes(sql) === sql)
  }

  test("parens inside string literals never move the depth counter") {
    // the latent round-13 hazard: a ')' in one literal and a '(' in a
    // later one keep the total balanced (the structural spec passes)
    // while a literal-blind scan would drift to depth -1/+1 at the
    // NEXT CTE head — missing it (re-introducing the inlined replay)
    // or materializing a nested one.
    val sql =
      """WITH a AS (SELECT ') close' AS x),
        |b AS (SELECT '( open' AS y, '' AS e, 'it''s ('' quoted' AS q FROM a)
        |SELECT * FROM b""".stripMargin
    val got = SparkEntry.materializeCtes(sql)
    assert(got.contains("a AS MATERIALIZED (SELECT ') close'"))
    assert(got.contains("b AS MATERIALIZED (SELECT '( open'"),
      "the head AFTER the paren-bearing literals must still rewrite")
    assert(got.replace(" AS MATERIALIZED (", " AS (") === sql)
    // a literal that happens to spell a CTE head must not rewrite
    val bait = "WITH a AS (SELECT 'x AS (SELECT' AS t) SELECT * FROM a"
    val got2 = SparkEntry.materializeCtes(bait)
    assert(got2 === bait.replace("a AS (", "a AS MATERIALIZED ("))
  }

  test("a self-referencing (recursive) CTE is never materialized") {
    // DuckDB v1.0 mis-evaluates `x AS MATERIALIZED (...)` when x is
    // recursive — the ann_opq greedy loop came back with NULL picks
    // from step 1. The scanner must detect the self-reference and
    // skip the hint for THAT CTE only.
    val sql =
      """WITH RECURSIVE base AS (SELECT 1 AS x),
        |g AS (SELECT 0 AS step, x FROM base
        |  UNION ALL SELECT step + 1, x FROM g WHERE step < 3),
        |tail AS (SELECT max(step) AS s FROM g)
        |SELECT * FROM tail""".stripMargin
    val got = SparkEntry.materializeCtes(sql)
    assert(got.contains("base AS MATERIALIZED (SELECT 1"))
    assert(got.contains("g AS (SELECT 0 AS step"),
      "the recursive CTE must stay un-materialized")
    assert(got.contains("tail AS MATERIALIZED (SELECT max(step)"))
    // a self-reference inside a string literal is NOT recursion
    val bait = "WITH z AS (SELECT 'z refers to z' AS t) SELECT * FROM z"
    assert(SparkEntry.materializeCtes(bait) ===
      bait.replace("z AS (", "z AS MATERIALIZED ("))
    // the registered ann_opq oracle: greedy stays plain, its
    // neighbors are materialized
    val opq = SparkEntry.oracleSql("ann_opq")
    assert(opq.contains("greedy AS (") && !opq.contains("greedy AS MATERIALIZED"))
    assert(opq.contains("mm AS MATERIALIZED ("))
  }

  test("every registered oracle survives the rewrite structurally") {
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      // parentheses stay balanced and nothing beyond the keyword is added
      assert(sql.count(_ == '(') === sql.count(_ == ')'), s"$name: unbalanced parens")
      val stripped = sql.replace(" AS MATERIALIZED (", " AS (")
      assert(!stripped.contains("MATERIALIZED"),
        s"$name: MATERIALIZED must only ever appear as a CTE hint")
    }
  }

  test("every registered query but the two rows-only sketches has an oracle, and every oracle names a query") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert(queries -- oracles === Set("events_approx_users", "fin_quantiles_sketch"))
    assert(oracles -- queries === Set.empty[String])
  }

  test("a query name declared in two families fails the union, which builds no oracle") {
    val build: (SparkSession, String) => DataFrame = (s, _) => s.range(1).toDF()
    def family(qs: Query*): Family = new Family { val queries: Seq[Query] = qs }
    val lazyOracle = family(Query("shared", build, sys.error("an oracle was built")))
    val e = intercept[IllegalArgumentException](
      SparkEntry.union(Seq(lazyOracle, family(Query.rowsOnly("shared", build)))))
    assert(e.getMessage.contains("shared"))
    assert(SparkEntry.union(Seq(lazyOracle, family(Query.rowsOnly("other", build)))).map(_.name) ===
      Seq("shared", "other"))
  }

  test("an alias registers its original's builder and oracle") {
    for ((alias, original) <- Seq("dedup_semantic_wide" -> "dedup_semantic",
        "ann_ivf_trained_wide" -> "ann_ivf_trained", "dedup_semantic_hier_wide" -> "dedup_semantic_hier",
        "dedup_semantic_hier_grouped" -> "dedup_semantic_hier")) {
      assert(SparkEntry.queries(alias) eq SparkEntry.queries(original), alias)
      assert(SparkEntry.oracleSql(alias) === SparkEntry.oracleSql(original), alias)
    }
  }
}
