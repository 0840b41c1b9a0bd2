package graft.merge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** IncrementalAgg contracts: batch-split invariance (any partition of the
  * input, any application order, converges to the full recompute), and the
  * touched-bucket discipline (an update folding one key must not rewrite
  * other buckets' files). */
class IncrementalAggSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def ev = {
    val s = spark
    import s.implicits._
    graft.Tables.events(s, dir)
      .select($"event_id", $"user_id",
        graft.functions.Grid.units2($"value").cast("long").as("v2"))
  }

  private def partials(df: DataFrame): DataFrame = {
    val s = spark
    import s.implicits._
    df.groupBy($"user_id")
      .agg(count(lit(1)).as("n"), sum($"v2").as("sum_v2"))
  }

  private def newView(root: String) =
    new IncrementalAgg(spark, s"$root/t", "user_id",
      Seq("n" -> (sum(_)), "sum_v2" -> (sum(_))), numBuckets = 8)

  private def state(v: IncrementalAgg): Seq[Seq[Any]] =
    v.read().orderBy("user_id").collect().map(_.toSeq).toSeq

  test("any batch split, any order, converges to the full recompute") {
    val s = spark
    import s.implicits._
    val full = newView(tmpDir("ia-full"))
    full.update(partials(ev))

    val byParity = newView(tmpDir("ia-par"))
    byParity.update(partials(ev.filter($"event_id" % 2 === 1)))
    byParity.update(partials(ev.filter($"event_id" % 2 === 0)))

    val byThirdsReversed = newView(tmpDir("ia-thirds"))
    (2 to 0 by -1).foreach(i =>
      byThirdsReversed.update(partials(ev.filter($"event_id" % 3 === i))))

    assert(state(full).nonEmpty)
    assert(state(byParity) === state(full))
    assert(state(byThirdsReversed) === state(full))
  }

  test("streamInto: foreachBatch maintenance converges to the full recompute") {
    val s = spark
    import s.implicits._
    val root = tmpDir("ia-stream")
    // stream the events as json lines; each micro-batch folds through the
    // same update() the batch path uses
    val src = ev.select(to_json(struct($"event_id", $"user_id", $"v2")).as("value"))
    src.coalesce(2).write.mode("overwrite").text(s"$root/src")

    val view = newView(root)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "event_id LONG, user_id LONG, v2 LONG")
    val stream = s.readStream.schema("value STRING")
      .option("maxFilesPerTrigger", "1") // force multiple micro-batches
      .text(s"$root/src")
      .select(from_json($"value", schema).as("e"))
      .select($"e.user_id".as("user_id"), $"e.v2".as("v2"))
    view.streamInto(stream, partials, s"$root/ckpt").awaitTermination()

    val full = newView(tmpDir("ia-stream-full"))
    full.update(partials(ev))
    assert(state(view) === state(full))
  }

  test("an update folding one key rewrites only that key's bucket") {
    val s = spark
    import s.implicits._
    val root = tmpDir("ia-touch")
    val view = newView(root)
    view.update(partials(ev))
    val before = StagedSwapSpec.bucketFiles(s"$root/t")

    val oneUser = ev.limit(1).select($"user_id").head().getLong(0)
    view.update(partials(ev.filter($"user_id" === oneUser)))
    val after = StagedSwapSpec.bucketFiles(s"$root/t")

    val touched = after.count { case (name, files) => before(name) != files }
    assert(touched === 1, s"expected exactly one rewritten bucket, got $touched")
    // and the fold is additive: that user's count doubled
    val n = view.read().filter($"user_id" === oneUser).head().getAs[Long]("n")
    val base = partials(ev.filter($"user_id" === oneUser)).head().getAs[Long]("n")
    assert(n === 2 * base)
  }
}
