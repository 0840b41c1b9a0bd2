package cdcbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.types.StructType

/** The three schemas of the lab's drift scenario. The change log carries
  * `phone`, the topic schema drops it (drift rule 1) and the sink adds a
  * nullable `age` the topic never carries (drift rule 2). */
object Schemas {
  val row: StructType = StructType.fromDDL(
    "id LONG, grp INT, amount LONG, note STRING, updated_ms LONG, seq LONG, phone STRING")
  val topic: StructType = StructType.fromDDL(
    "id LONG, grp INT, amount LONG, note STRING, updated_ms LONG, seq LONG, __deleted STRING")
  val sink: StructType = StructType.fromDDL(
    "id LONG, grp INT, amount LONG, note STRING, updated_ms LONG, seq LONG, __deleted STRING, age LONG")
  val Groups = 100
}

/** One row image of the `people`-like source table. */
final case class Person(id: Long, grp: Int, amount: Long, note: String,
                        updatedMs: Long, seq: Long, phone: String)

/** Reference model of the merged table: the latest `(updated_ms, seq)` per
  * key wins, a delete hides its key, a truncated envelope never happened,
  * `phone` is dropped and `age` is null. Changes are generated in
  * `(updated_ms, seq)` order, so applying them in generation order is the
  * latest-wins rule. Per-group counts and sums are kept incrementally for
  * checking the analyst's aggregate. */
final class Model {
  val live = mutable.LongMap.empty[Person]
  val grpCount = new Array[Long](Schemas.Groups)
  val grpSum = new Array[Long](Schemas.Groups)

  def put(p: Person): Unit = {
    remove(p.id)
    live(p.id) = p
    grpCount(p.grp) += 1
    grpSum(p.grp) += p.amount
  }

  def remove(id: Long): Unit = live.remove(id).foreach { o =>
    grpCount(o.grp) -= 1
    grpSum(o.grp) -= o.amount
  }
}

/** Deterministic Debezium change-log generator: the same seed gives the same
  * lines. Every envelope stamps its row image with the change's own
  * `updated_ms` and `seq`, a delete included, so a delete orders after the
  * row it removes. A `truncShare` of the envelopes is cut short inside the
  * envelope JSON; the outer `{"value": ...}` line stays well-formed. */
final class Gen(seed: Long, truncShare: Double = 0.01) {
  private val rnd = new SplittableRandom(seed)
  private var clock = 1700000000000L
  private var seq = 0L
  var envelopes = 0L
  var truncated = 0L

  private val words = Array("alpha", "bravo", "delta", "echo", "kilo", "lima",
    "oscar", "papa", "romeo", "sierra", "tango", "victor", "whiskey", "zulu")

  private def tick(): Unit = { clock += rnd.nextInt(3); seq += 1 }

  private def note(): String = {
    val n = 2 + rnd.nextInt(5)
    Iterator.fill(n)(words(rnd.nextInt(words.length))).mkString(" ")
  }

  def person(id: Long): Person = {
    tick()
    Person(id, rnd.nextInt(Schemas.Groups), rnd.nextLong(1000000L), note(),
      clock, seq, f"555-${rnd.nextInt(10000)}%04d")
  }

  def nextInt(n: Int): Int = rnd.nextInt(n)

  private def rowJson(sb: StringBuilder, p: Person): Unit = {
    sb.append("{\"id\":").append(p.id).append(",\"grp\":").append(p.grp)
      .append(",\"amount\":").append(p.amount).append(",\"note\":\"").append(p.note)
      .append("\",\"updated_ms\":").append(p.updatedMs).append(",\"seq\":").append(p.seq)
      .append(",\"phone\":\"").append(p.phone).append("\"}")
  }

  private def envelope(op: String, before: Option[Person], after: Option[Person],
                       tsMs: Long): String = {
    val sb = new StringBuilder(256)
    sb.append("{\"before\":")
    before.fold(sb.append("null"))(p => { rowJson(sb, p); sb })
    sb.append(",\"after\":")
    after.fold(sb.append("null"))(p => { rowJson(sb, p); sb })
    sb.append(",\"source\":{\"db\":\"inventory\",\"table\":\"people\"},\"op\":\"")
      .append(op).append("\",\"ts_ms\":").append(tsMs).append('}')
    sb.toString
  }

  private def line(env: String): String =
    "{\"value\":\"" + env.replace("\\", "\\\\").replace("\"", "\\\"") + "\"}"

  /** One change to key `id` as a change-log line. A live key is updated, or
    * deleted with probability `deleteShare`; a missing key is created. The
    * change is applied to `model` unless its envelope is truncated. */
  def change(model: Model, id: Long, deleteShare: Double): String = {
    envelopes += 1
    val prev = model.live.get(id)
    val truncate = rnd.nextDouble() < truncShare
    val (op, before, after) = prev match {
      case None => ("c", None, Some(person(id)))
      case Some(old) if rnd.nextDouble() < deleteShare =>
        tick()
        ("d", Some(old.copy(updatedMs = clock, seq = seq)), None)
      case Some(old) => ("u", Some(old), Some(person(id)))
    }
    val env = envelope(op, before, after, clock)
    if (truncate) {
      truncated += 1
      line(env.substring(0, 1 + rnd.nextInt(env.length - 2)))
    } else {
      after.fold(model.remove(id))(model.put)
      line(env)
    }
  }

  /** Fisher-Yates shuffle, so arrival order inside a file differs from
    * change order and the merge's latest-wins rule does the ordering. */
  def shuffle[T](xs: mutable.ArrayBuffer[T]): mutable.ArrayBuffer[T] = {
    var i = xs.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = xs(i); xs(i) = xs(j); xs(j) = t
      i -= 1
    }
    xs
  }
}
