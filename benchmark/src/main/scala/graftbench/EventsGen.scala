package graftbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.LocalDate
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.types._

/** Seeded event stream in the testdata `events` shape (id, ts, user,
  * type, value, props) plus the `event_date` partition column. Values
  * are multiples of 0.25, so every sum is exact in a double whatever
  * order the engine adds them in. */
object EventsGen {
  val Partitions = 30
  val FirstDay: LocalDate = LocalDate.of(2024, 1, 1)
  private val Types = Seq("view", "click", "purchase", "error", "search")

  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType),
    StructField("event_date", StringType)))

  def date(p: Int): String = FirstDay.plusDays(p.toLong).toString

  /** One event row; ids ascend with time, so each partition holds one
    * id range and the manifest's event_id bounds can prune files. */
  final case class Event(id: Long, part: Int, user: Long, kind: String, value: Double) {
    def ts: java.sql.Timestamp = java.sql.Timestamp.valueOf(
      FirstDay.plusDays(part.toLong).atStartOfDay().plusSeconds((id * 37) % 86400))
    def props: String = s"{k: ${id % 97}}"
    def toRow: org.apache.spark.sql.Row =
      org.apache.spark.sql.Row(id, ts, user, kind, value, props, date(part))
  }

  def event(r: SplittableRandom, id: Long, part: Int): Event =
    Event(id, part, r.nextInt(5000).toLong, Types(r.nextInt(Types.size)),
      (1 + r.nextInt(4000)) * 0.25)

  /** Writes `n` events over [[Partitions]] days as CSV and returns them. */
  def generate(seed: Long, dir: String, n: Int): (String, Seq[Event]) = {
    val r = new SplittableRandom(seed)
    new File(dir).mkdirs()
    val events = (1 to n).map(i => event(r, i.toLong, ((i - 1).toLong * Partitions / n).toInt))
    val path = s"$dir/events.csv"
    val out = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(path), UTF_8))
    events.foreach { e =>
      out.write(s"${e.id},${e.ts},${e.user},${e.kind},${e.value},${e.props},${date(e.part)}\n")
    }
    out.close()
    (path, events)
  }
}

/** The snapshot table as the benchmark expects it, kept without the
  * engine: every live row's partition and value, and the per-partition
  * (count, sum) of every committed version for time-travel reads. */
final class SnapshotModel(seed: Seq[EventsGen.Event]) {
  import EventsGen.Partitions

  private val part = mutable.LongMap.empty[Int]
  private val value = mutable.LongMap.empty[Double]
  seed.foreach { e => part(e.id) = e.part; value(e.id) = e.value }
  var maxId: Long = if (seed.isEmpty) 0L else seed.map(_.id).max
  private val versions = mutable.LinkedHashMap.empty[Long, Seq[String]]

  def live(id: Long): Boolean = part.contains(id)
  def liveIn(lo: Long, hi: Long): Seq[Long] = (lo to hi).filter(live)
  def partOf(id: Long): Int = part(id)

  def upsert(e: EventsGen.Event): Unit = {
    part(e.id) = e.part; value(e.id) = e.value; maxId = math.max(maxId, e.id)
  }
  def delete(id: Long): Unit = { part.remove(id); value.remove(id) }
  def add(id: Long, d: Double): Unit = value(id) = value(id) + d

  /** Per-partition "date|count|sum" lines, in date order, over the rows
    * `keep` selects; partitions without rows are left out, as a GROUP BY
    * leaves them out. */
  def summary(keep: Long => Boolean = _ => true): Seq[String] = {
    val n = new Array[Long](Partitions); val s = new Array[Double](Partitions)
    part.foreach { case (id, p) => if (keep(id)) { n(p) += 1; s(p) += value(id) } }
    (0 until Partitions).filter(n(_) > 0)
      .map(p => s"${EventsGen.date(p)}|${n(p)}|${s(p)}")
  }

  def commit(v: Long): Unit = versions(v) = summary()
  def committed: Seq[Long] = versions.keys.toSeq
  def at(v: Long): Seq[String] = versions(v)
}
