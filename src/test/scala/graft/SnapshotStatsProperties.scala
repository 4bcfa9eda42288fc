package graft

import graft.sources.Snapshot
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAll

/** Manifest statistics read from parquet footers against the aggregate
  * over the same files' rows ([[Snapshot.footerFileStats]] vs
  * [[Snapshot.aggregateStats]]): wherever the footer derivation answers,
  * its entry equals the aggregate's, or bounds it more widely — so file
  * pruning stays conservative. Random frames carry nulls, multibyte and
  * over-64-byte strings, the odd 5,000-byte string (whose footer drops
  * that column's statistics), pre-1970 timestamps including −0.5 s,
  * zero-row files, and lineage with virtual or materialized row ids. */
object SnapshotStatsProperties extends Properties("graft.sources.Snapshot.stats") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(25)

  private lazy val spark = SharedSpark.spark

  private val Huge = "q" * 5000

  private val strGen: Gen[Option[String]] = Gen.frequency(
    2 -> Gen.const(None),
    3 -> Gen.asciiPrintableStr.map(s => Some(s.take(20))),
    3 -> Gen.listOf(Gen.oneOf("a", "z", "ä", "ö", "中", "한", "😀", "é", " ", "~"))
      .map(cs => Some(cs.mkString)),
    2 -> Gen.choose(65, 200).flatMap(n => Gen.listOfN(n, Gen.oneOf("x", "ÿ", "中", "😀")))
      .map(cs => Some(cs.mkString)),
    1 -> Gen.const(Some(Huge)))

  private val idGen: Gen[Option[Long]] = Gen.frequency(
    1 -> Gen.const(None),
    5 -> Gen.choose(-1000000L, 1000000L).map(Some(_)),
    1 -> Gen.oneOf(Long.MinValue, Long.MaxValue, 0L).map(Some(_)))

  // timestamps as epoch micros: pre-1970, -0.5 s (casts to -1), nulls
  private val tsGen: Gen[Option[Long]] = Gen.frequency(
    1 -> Gen.const(None),
    1 -> Gen.const(Some(-500000L)),
    4 -> Gen.choose(-5000000000000000L, 5000000000000000L).map(Some(_)))

  private final case class Case(rows: Seq[(Option[Long], Option[Long], Option[String],
      Option[Long], String)], lineage: Int, nullStats: Boolean, emptyFile: Boolean)

  private val caseGen: Gen[Case] = for {
    rows <- Gen.listOf(for {
      id <- idGen; ts <- tsGen; s <- strGen; rid <- idGen; p <- Gen.oneOf("a", "b")
    } yield (id, ts, s, rid, p)).map(_.take(12))
    lineage <- Gen.oneOf(0, 1, 2) // none, virtual ids, materialized ids
    nullStats <- Gen.oneOf(false, true)
    emptyFile <- Gen.oneOf(false, true)
  } yield Case(rows, lineage, nullStats, emptyFile)

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-statsprop").toString

  /** Write `c` as a writer stages it: one file per partition value, and
    * optionally a zero-row file. Returns (qualified root, root-relative
    * files, written schema, table meta). */
  private def stage(c: Case): (String, Seq[String], StructType, Map[String, String]) = {
    val root = tmp()
    val raw = StructType(Seq(StructField("id", LongType), StructField("tsm", LongType),
      StructField("s", StringType), StructField("rid", LongType),
      StructField("p", StringType)))
    val df0 = spark.createDataFrame(
      java.util.Arrays.asList(c.rows.map { case (id, ts, s, rid, p) =>
        Row(id.getOrElse(null), ts.getOrElse(null), s.orNull, rid.getOrElse(null), p)
      }: _*), raw)
    val df1 = df0.withColumn("ts", expr("timestamp_micros(tsm)"))
    val withIds =
      if (c.lineage == 2) df1.withColumnRenamed("rid", Snapshot.RowIdCol)
      else df1.drop("rid")
    val df = withIds.select((Seq("id", "ts", "s") ++
      (if (c.lineage == 2) Seq(Snapshot.RowIdCol) else Nil) ++ Seq("p")).map(col): _*)
    df.coalesce(1).write.partitionBy("p").parquet(s"$root/out")
    if (c.emptyFile) {
      val flat = s"${tmp()}/flat"
      spark.createDataFrame(java.util.Collections.emptyList[Row](),
        StructType(df.schema.fields.filterNot(_.name == "p")))
        .coalesce(1).write.parquet(flat)
      val dir = new java.io.File(s"$root/out/p=c")
      dir.mkdirs()
      new java.io.File(flat).listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => java.nio.file.Files.move(f.toPath, new java.io.File(dir, f.getName).toPath))
    }
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualified = fs.makeQualified(new org.apache.hadoop.fs.Path(s"$root/out")).toString
    val files = new java.io.File(s"$root/out").listFiles().filter(_.isDirectory).toSeq
      .flatMap(d => d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => s"${d.getName}/${f.getName}"))
    val meta = Map("stats" -> "id,ts,s") ++
      (if (c.lineage > 0) Map("rowids" -> "on") else Map.empty) ++
      (if (c.nullStats) Map("nullstats" -> "on") else Map.empty)
    (qualified, files, df.schema, meta)
  }

  /** `wide` bounds what `exact` bounds: equal, unbounded, or a range
    * containing it (LONG bounds numerically, `s:` bounds in byte order). */
  private def covers(wide: String, exact: String): Boolean = {
    val Array(wl, wh) = wide.split("\t")
    val Array(el, eh) = exact.split("\t")
    def le(a: String, b: String) =
      if (a.startsWith("s:")) Snapshot.cmpBytes(Snapshot.decStrBound(a),
        Snapshot.decStrBound(b)) <= 0
      else a.toLong <= b.toLong
    wide == exact || wl == "-" || wh == "-" ||
      (el != "-" && eh != "-" && le(wl, el) && le(eh, wh))
  }

  property("footer-derived entries equal the aggregate's, or bound it more widely") =
    forAll(caseGen) { c =>
      val (qualified, files, written, meta) = stage(c)
      val fromFooters = Snapshot.footerFileStats(spark, qualified, files, meta, written)
      val fromRows = Snapshot.aggregateStats(spark, qualified, files, meta, written)
      fromFooters.forall {
        case (f, Some((0L, _))) => !fromRows.contains(f) // zero-row file
        case (f, Some((rows, st))) => fromRows.get(f).exists { agg =>
          rows > 0 && st.nulls == agg.nulls && st.n == agg.n &&
            st.missing == agg.missing && st.bounds.size == agg.bounds.size &&
            st.bounds.zip(agg.bounds).forall { case (w, e) => covers(w, e) }
        }
        case (f, None) =>
          // only a file holding an oversized string falls back
          c.rows.exists { case (_, _, s, _, p) =>
            f.startsWith(s"p=$p/") && s.contains(Huge) }
      }
    }

  property("a footer without a column's statistics falls back; the aggregate still bounds it") =
    Prop.secure {
      val c = Case(Seq((Some(1L), Some(0L), Some(Huge), None, "a"),
        (Some(2L), Some(1L), Some("b"), None, "a")), lineage = 0,
        nullStats = true, emptyFile = false)
      val (qualified, files, written, meta) = stage(c)
      val fromFooters = Snapshot.footerFileStats(spark, qualified, files, meta, written)
      val fromRows = Snapshot.aggregateStats(spark, qualified, files, meta, written)
      Prop(fromFooters.map(_._2) == Seq(None) &&
        fromRows(files.head).bounds.take(2) == Seq("1\t2", "0\t0") &&
        fromRows(files.head).nulls.contains("0,0,0"))
    }
}
