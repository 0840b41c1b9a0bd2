package graft.queries

import org.scalatest.BeforeAndAfterEach

import graft.SparkSpec

/** The native `WITH RECURSIVE` conformance ENVELOPE around q265's single
  * depth-4/fanout-10 gate: deep chains (hundreds of levels), the engine's
  * depth cap (`spark.sql.cteRecursionLevelLimit`, default 100 — a query
  * not exhausted by then FAILS rather than looping), the row cap
  * (`spark.sql.cteRecursionRowLimit`), and cycle-containing edge sets
  * (an unguarded closure over a cycle never terminates on its own — the
  * level limit is what stops it; a depth guard in the step is the correct
  * authoring pattern, same as the reference's declarative interface would
  * need on cyclic data). Boundaries mirrored in SURVEY.md §2's recursion
  * note. */
class RecursionEnvelopeSpec extends SparkSpec with BeforeAndAfterEach {

  private val LevelLimit = "spark.sql.cteRecursionLevelLimit"
  private val RowLimit = "spark.sql.cteRecursionRowLimit"

  override def afterEach(): Unit = {
    spark.conf.unset(LevelLimit)
    spark.conf.unset(RowLimit)
  }

  /** Linear chain 1→2→…→n as a recursive CTE (each level adds one row). */
  private def chainSql(n: Int): String =
    s"""WITH RECURSIVE chain(i) AS (
       |  SELECT 1
       |  UNION ALL
       |  SELECT i + 1 FROM chain WHERE i < $n)
       |SELECT count(*) AS n, max(i) AS top FROM chain""".stripMargin

  test("default level limit is 100 and a deeper chain FAILS, not loops") {
    assert(spark.conf.get(LevelLimit) === "100")
    val e = intercept[Exception](spark.sql(chainSql(500)).collect())
    assert(e.getMessage.toLowerCase.contains("recursion"),
      s"expected the level-limit error, got: ${e.getMessage.take(200)}")
  }

  test("a 500-level chain completes once the level limit is raised") {
    spark.conf.set(LevelLimit, "600")
    val r = spark.sql(chainSql(500)).collect()(0)
    assert((r.getLong(0), r.getInt(1)) === (500L, 500))
  }

  test("a chain that exhausts EXACTLY at the limit boundary succeeds") {
    // n levels of recursion produce the chain 1..n+1; the limit counts
    // iterations of the recursive step, so n=99 fits under limit 100
    spark.conf.set(LevelLimit, "100")
    val r = spark.sql(chainSql(99)).collect()(0)
    assert((r.getLong(0), r.getInt(1)) === (99L, 99))
  }

  test("the row limit stops a fan-out explosion with an error, not an OOM") {
    spark.conf.set(RowLimit, "1000")
    spark.conf.set(LevelLimit, "100")
    // fanout 10 per level: 1 + 10 + 100 + 1000 + 10000 rows — crosses the
    // 1000-row cap at depth 3
    val e = intercept[Exception](spark.sql(
      """WITH RECURSIVE t(i, d) AS (
        |  SELECT 0, 0
        |  UNION ALL
        |  SELECT i * 10 + f.c, d + 1
        |  FROM t JOIN (SELECT explode(sequence(0, 9)) AS c) f
        |  WHERE d < 4)
        |SELECT count(*) FROM t""".stripMargin).collect())
    assert(e.getMessage.toLowerCase.contains("rows") ||
      e.getMessage.toLowerCase.contains("limit"),
      s"expected the row-limit error, got: ${e.getMessage.take(200)}")
  }

  test("an UNGUARDED closure over a cycle hits the level limit — it never " +
    "terminates on its own") {
    val s = spark
    import s.implicits._
    Seq((1, 2), (2, 3), (3, 1)) // a 3-cycle
      .toDF("src", "dst").createOrReplaceTempView("cyc_edges")
    spark.conf.set(LevelLimit, "50")
    val e = intercept[Exception](spark.sql(
      """WITH RECURSIVE reach(node) AS (
        |  SELECT 1
        |  UNION ALL
        |  SELECT e.dst FROM reach r JOIN cyc_edges e ON e.src = r.node)
        |SELECT count(*) FROM reach""".stripMargin).collect())
    assert(e.getMessage.toLowerCase.contains("recursion"),
      s"expected the level-limit error, got: ${e.getMessage.take(200)}")
    spark.catalog.dropTempView("cyc_edges")
  }

  test("a DEPTH-GUARDED closure over the same cycle terminates exactly") {
    val s = spark
    import s.implicits._
    Seq((1, 2), (2, 3), (3, 1))
      .toDF("src", "dst").createOrReplaceTempView("cyc_edges")
    // the authoring pattern for cyclic data: carry depth, bound the step
    // (q172/q99 use the same discipline in their hand-rolled loops)
    val rows = spark.sql(
      """WITH RECURSIVE reach(node, d) AS (
        |  SELECT 1, 0
        |  UNION ALL
        |  SELECT e.dst, r.d + 1 FROM reach r JOIN cyc_edges e ON e.src = r.node
        |  WHERE r.d < 6)
        |SELECT node, d FROM reach ORDER BY d, node""".stripMargin).collect()
    // walks the cycle 1→2→3→1→2→3→1: 7 rows, nodes repeat every 3 levels
    assert(rows.length === 7)
    assert(rows.map(_.getInt(0)).toSeq === Seq(1, 2, 3, 1, 2, 3, 1))
    spark.catalog.dropTempView("cyc_edges")
  }

  test("q269 batched execution is batch-size-INVARIANT: K=1 (the native " +
    "one-job-per-level shape), the default, and K>depth agree byte-for-byte") {
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)).toString).toSeq
    val k1 = rows(CoreQueries.q269DeepRecursion(spark, dir, 1))
    val kd = rows(CoreQueries.q269DeepRecursion(spark, dir)) // the constant 12
    val kAll = rows(CoreQueries.q269DeepRecursion(spark, dir, 500))
    assert(k1.length === 121, s"chain must emit 121 levels, got ${k1.length}")
    assert(k1 === kd, "default batch size diverged from K=1")
    assert(k1 === kAll, "K>depth diverged from K=1")
  }
}
