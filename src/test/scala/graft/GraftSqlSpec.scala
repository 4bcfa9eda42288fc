package graft

import java.nio.file.Files

import graft.sources.Snapshot
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The SQL entry surface's contracts: a registered catalog serves
  * snapshot tables to `spark.sql`, pushdown drives MANIFEST file
  * planning (visible in explain as `files=k/N`), deletion vectors and
  * equality deletes apply to SQL readers exactly as to library
  * readers, time travel resolves via `VERSION AS OF` (number or tag)
  * and `TIMESTAMP AS OF`, INSERT INTO lands as a manifest commit, and
  * `format("graft")` reads work catalog-less with pinning options. */
class GraftSqlSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def tmp(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def rows(ids: Seq[Long]) = {
    import spark.implicits._
    ids.map(i => (i, i * 10.0,
      if (i % 2 == 0) "2024-01-02" else "2024-01-01"))
      .toDF("id", "value", "day")
  }

  // one catalog NAME per warehouse: Spark instantiates a catalog plugin
  // once per name and caches it, so re-pointing a name's warehouse conf
  // after first use would silently keep serving the old directory
  private def registerCatalog(name: String, warehouse: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[graft.sources.sql.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", warehouse)
  }

  test("catalog SELECT plans a manifest file subset, applies DVs, time-travels, and inserts") {
    val wh = tmp("graft-sqlwh")
    val path = s"$wh/ev"
    // sorted within partitions so id bounds are tight per file — the
    // manifest stats tier has something to prune on
    Snapshot.append(spark, path, "day",
      rows(1L to 400L).repartition(4, col("id"))
        .sortWithinPartitions("id"),
      meta = Map("stats" -> "id"))
    registerCatalog("gsql", wh)

    // full read ≡ library read
    val lib = Snapshot.readSnapshot(spark, path)
      .select("id", "value", "day").orderBy("id")
      .collect().map(_.toSeq).toSeq
    val sql = spark.sql(
      "SELECT id, value, day FROM gsql.ev ORDER BY id")
      .collect().map(_.toSeq).toSeq
    assert(sql == lib)

    // pushdown: the explain surfaces the manifest plan (files=k/N, a
    // strict subset) and the pushed filters
    val probe = spark.sql("SELECT id, value FROM gsql.ev WHERE id = 7")
    val plan = probe.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    val m = """files=(\d+)/(\d+)""".r.findFirstMatchIn(plan)
    assert(m.isDefined, s"no manifest plan marker in:\n$plan")
    assert(m.get.group(1).toInt < m.get.group(2).toInt,
      s"no file skipping for a point predicate: ${m.get.matched}")
    assert(plan.contains("PushedFilters") || plan.contains("pushed"),
      s"pushed filters invisible in:\n$plan")
    assert(probe.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((7L, 70.0)))

    // partition pruning composes: equality on the partition column
    val oneDay = spark.sql(
      "SELECT count(*) AS n FROM gsql.ev WHERE day = '2024-01-01'")
    assert(oneDay.collect().head.getLong(0) == 200L)

    // count(*) — empty projection through the seam
    assert(spark.sql("SELECT count(*) AS n FROM gsql.ev")
      .collect().head.getLong(0) == 400L)

    // a merge-on-read delete applies to SQL readers (no refresh, no
    // special syntax — the scan reads through the snapshot)
    val v1 = Snapshot.currentVersion(spark, path).get
    val t1 = Snapshot.commitTs(spark, path, v1)
    Snapshot.deleteWhereMoR(spark, path, "day", col("id") === 7L)
    assert(spark.sql("SELECT id FROM gsql.ev WHERE id = 7").count() == 0L)
    assert(spark.sql("SELECT count(*) AS n FROM gsql.ev")
      .collect().head.getLong(0) == 399L)

    // VERSION AS OF: the pinned read still sees the deleted row
    assert(spark.sql(
      s"SELECT id FROM gsql.ev VERSION AS OF $v1 WHERE id = 7")
      .count() == 1L)
    // ... and by TAG name
    Snapshot.tag(spark, path, "before-forget", v1)
    assert(spark.sql(
      "SELECT id FROM gsql.ev VERSION AS OF 'before-forget' WHERE id = 7")
      .count() == 1L)
    // TIMESTAMP AS OF the first commit's wall clock
    val ts = java.time.Instant.ofEpochMilli(t1).toString.replace("T", " ")
      .stripSuffix("Z")
    assert(spark.sql(
      s"SELECT count(*) AS n FROM gsql.ev TIMESTAMP AS OF '$ts'")
      .collect().head.getLong(0) == 400L)

    // INSERT INTO lands as a manifest-committed append
    val vBefore = Snapshot.currentVersion(spark, path).get
    spark.sql(
      "INSERT INTO gsql.ev VALUES (1000, 1.5, '2024-01-03')")
    assert(Snapshot.currentVersion(spark, path).get == vBefore + 1)
    assert(spark.sql("SELECT value FROM gsql.ev WHERE id = 1000")
      .collect().head.getDouble(0) == 1.5)
    assert(Snapshot.readSnapshot(spark, path)
      .where(col("id") === 1000L).count() == 1L)

    // a contradictory range predicate plans ZERO files and returns none
    val none = spark.sql("SELECT id FROM gsql.ev WHERE id > 10 AND id < 5")
    val nonePlan = none.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    assert("""files=0/\d+""".r.findFirstIn(nonePlan).isDefined,
      s"contradiction did not plan zero files:\n$nonePlan")
    assert(none.count() == 0L)
  }

  test("equality deletes and schema evolution serve through SQL; writes to pinned reads refuse") {
    val wh = tmp("graft-sqlwh2")
    val path = s"$wh/up"
    import spark.implicits._
    def batch(rows: Seq[(Long, Double)]) =
      rows.map { case (id, v) =>
        (id, v, if (id % 2 == 0) "d2" else "d1")
      }.toDF("k", "v", "day")
    Snapshot.upsertByKeys(spark, path, "day",
      batch((1L to 10L).map(i => i -> i * 1.0)), Seq("k"))
    Snapshot.upsertByKeys(spark, path, "day",
      batch(Seq(3L -> 333.0, 11L -> 110.0)), Seq("k"))
    registerCatalog("gsql2", wh)
    // latest image per key, equality-hidden priors invisible to SQL
    val got = spark.sql("SELECT k, v FROM gsql2.up WHERE k IN (3, 4, 11)")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(got == Set((3L, 333.0), (4L, 4.0), (11L, 110.0)))

    // schema evolution: a widening append adds a column; SQL reads the
    // recorded schema (old rows NULL in it)
    Snapshot.append(spark, path, "day",
      Seq((50L, 5.5, "d1", "x")).toDF("k", "v", "day", "tag"))
    val cols = spark.sql("SELECT * FROM gsql2.up").columns.toSeq
    assert(cols.contains("tag"))
    assert(spark.sql(
      "SELECT count(*) AS n FROM gsql2.up WHERE tag IS NULL")
      .collect().head.getLong(0) == 11L)

    // writes through a time-travel pin refuse loudly
    val v = Snapshot.currentVersion(spark, path).get
    val e = intercept[Exception](spark.sql(
      s"INSERT INTO gsql2.up VERSION AS OF $v VALUES (9, 9.0, 'd1', 'y')"))
    assert(e != null)
  }

  test("format(\"graft\") reads catalog-less with versionAsOf/timestampAsOf pinning") {
    val base = tmp("graft-sqlfmt")
    val path = s"$base/t"
    Snapshot.append(spark, path, "day", rows(1L to 50L),
      meta = Map("stats" -> "id"))
    val v1 = Snapshot.currentVersion(spark, path).get
    Snapshot.append(spark, path, "day", rows(51L to 60L))
    assert(spark.read.format("graft").option("path", path).load()
      .count() == 60L)
    assert(spark.read.format("graft").option("path", path)
      .option("versionAsOf", v1.toString).load().count() == 50L)
    val tsMs = Snapshot.commitTs(spark, path, v1)
    assert(spark.read.format("graft").option("path", path)
      .option("timestampAsOf", tsMs.toString).load().count() == 50L)
    // pushdown works through the provider path too
    val probe = spark.read.format("graft").option("path", path).load()
      .where(col("id") === 5L)
    val plan = probe.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("simple"))
    assert("""files=(\d+)/(\d+)""".r.findFirstMatchIn(plan).isDefined,
      s"no manifest plan marker in:\n$plan")
    assert(probe.count() == 1L)
  }

  test("ALTER TABLE evolves the schema: RENAME COLUMN folds old files, ALTER COLUMN TYPE promotes, ADD COLUMN reads NULL") {
    import org.apache.spark.sql.types.{LongType, StringType}
    val wh = tmp("graft-sqlddl")
    val path = s"$wh/t"
    import spark.implicits._
    Snapshot.append(spark, path, "day",
      Seq((1, 10.0, "2024-01-01"), (2, 20.0, "2024-01-02"))
        .toDF("qty", "value", "day"))
    registerCatalog("gddl", wh)

    spark.sql("ALTER TABLE gddl.t RENAME COLUMN qty TO quantity")
    spark.sql("ALTER TABLE gddl.t ALTER COLUMN quantity TYPE BIGINT")
    spark.sql("ALTER TABLE gddl.t ADD COLUMN note STRING")

    // one catalog read serves all three evolutions: pre-evolution files
    // fold into the new name, widened to LONG, NULL in the added column
    val got = spark.sql(
      "SELECT quantity, value, note FROM gddl.t ORDER BY quantity")
      .collect().map(r => (r.getLong(0), r.getDouble(1),
        Option(r.getString(2)))).toSeq
    assert(got == Seq((1L, 10.0, None), (2L, 20.0, None)))
    assert(Snapshot.schemaOf(spark, path,
      Snapshot.currentVersion(spark, path).get).get("quantity")
      .dataType == LongType)

    // INSERT lands under the evolved schema; the note column round-trips
    spark.sql("INSERT INTO gddl.t VALUES " +
      "(CAST(3 AS BIGINT), 30.0, 'filled', '2024-01-03')")
    val after = spark.sql(
      "SELECT quantity, note FROM gddl.t ORDER BY quantity")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSeq
    assert(after ==
      Seq((1L, None), (2L, None), (3L, Some("filled"))))

    // the library refusals surface through SQL unchanged
    intercept[Exception](
      spark.sql("ALTER TABLE gddl.t RENAME COLUMN day TO dt"))
    intercept[Exception](
      spark.sql("ALTER TABLE gddl.t ADD COLUMN qty STRING"))
    // an unsafe type change dies in Spark's own analyzer (upcast check)
    // BEFORE reaching the catalog — and the library guard backstops it
    val e = intercept[Exception](
      spark.sql("ALTER TABLE gddl.t ALTER COLUMN note TYPE BIGINT"))
    assert(e.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN") ||
      e.getMessage.contains("safe widening"), e.getMessage)

    // a multi-change statement is ATOMIC: the second
    // column is refused (retired name), so the first must NOT have
    // durably committed either — all commits or none
    val vBefore = Snapshot.currentVersion(spark, path).get
    intercept[Exception](
      spark.sql("ALTER TABLE gddl.t ADD COLUMNS (fresh INT, qty STRING)"))
    assert(Snapshot.currentVersion(spark, path).get == vBefore,
      "a refused multi-change ALTER must commit nothing")
    assert(!spark.sql("SELECT * FROM gddl.t").columns.contains("fresh"))

    // FIRST/AFTER positions and comments refuse loudly instead of
    // silently landing the column elsewhere / dropping the comment
    intercept[Exception](
      spark.sql("ALTER TABLE gddl.t ADD COLUMN early INT AFTER quantity"))
    intercept[Exception](
      spark.sql("ALTER TABLE gddl.t ADD COLUMN noted INT COMMENT 'x'"))
    assert(Snapshot.currentVersion(spark, path).get == vBefore)
  }

  test("SQL DML: MERGE upserts across partitions, UPDATE re-images, DELETE commits a vector") {
    val wh = tmp("graft-dmlwh")
    val path = s"$wh/t"
    Snapshot.append(spark, path, "day",
      rows(1L to 100L).repartition(2, col("id")))
    registerCatalog("gdml", wh)

    // MERGE first (the library merge contract refuses outstanding
    // vectors): move id=1 to the other day with a new value (the
    // cross-partition key move), insert id=1001 fresh
    import spark.implicits._
    Seq((1L, 111.0, "2024-01-02"), (1001L, 99.0, "2024-01-01"))
      .toDF("id", "value", "day").createOrReplaceTempView("dml_src")
    spark.sql(
      """MERGE INTO gdml.t AS t USING dml_src AS s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val moved = spark.sql("SELECT value, day FROM gdml.t WHERE id = 1")
      .collect().map(r => (r.getDouble(0), r.getString(1))).toSeq
    assert(moved == Seq((111.0, "2024-01-02")),
      s"MERGE did not move the key across partitions: $moved")
    assert(spark.sql("SELECT count(*) AS n FROM gdml.t")
      .collect().head.getLong(0) == 101L)

    // the exact upsert has the general MERGE's semantics: adding a
    // clause condition that always holds changes nothing
    val upsert = """MERGE INTO %s AS t USING %s AS s ON t.id = s.id
      |WHEN MATCHED THEN UPDATE SET *
      |WHEN NOT MATCHED THEN INSERT *""".stripMargin
    //  - on a lineage table the matched row keeps its durable id
    val whR = tmp("graft-dmlridwh")
    Snapshot.append(spark, s"$whR/t", "day", rows(1L to 4L),
      meta = Map("rowids" -> "on"))
    registerCatalog("gdmlrid", whR)
    def rowIds(): Map[Long, Long] = Snapshot.readVersionLineage(spark,
        s"$whR/t", Snapshot.currentVersion(spark, s"$whR/t").get)
      .select(col("id"), col("_row_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ridBefore = rowIds()
    Seq((1L, 11.0, "2024-01-01"), (9L, 90.0, "2024-01-01"))
      .toDF("id", "value", "day").createOrReplaceTempView("rid_src")
    spark.sql(upsert.format("gdmlrid.t", "rid_src"))
    val ridAfter = rowIds()
    assert(ridAfter.size == 5 && (1L to 4L).forall(i => ridAfter(i) == ridBefore(i)),
      s"the upsert re-minted matched ids: $ridBefore -> $ridAfter")
    assert(!ridBefore.values.toSet.contains(ridAfter(9L)))
    //  - both rows of a duplicated target key are re-imaged
    val whD = tmp("graft-dmldupwh")
    Snapshot.append(spark, s"$whD/t", "day",
      Seq((1L, 1.0, "2024-01-01"), (1L, 2.0, "2024-01-01"),
        (2L, 3.0, "2024-01-02")).toDF("id", "value", "day"))
    registerCatalog("gdmldup", whD)
    Seq((1L, 7.0, "2024-01-01")).toDF("id", "value", "day")
      .createOrReplaceTempView("dup_src")
    spark.sql(upsert.format("gdmldup.t", "dup_src"))
    assert(spark.sql("SELECT id, value FROM gdmldup.t ORDER BY id, value")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((1L, 7.0), (1L, 7.0), (2L, 3.0)))
    //  - two source rows acting on one target row refuse, commit nothing
    Seq((2L, 5.0, "2024-01-02"), (2L, 6.0, "2024-01-02"))
      .toDF("id", "value", "day").createOrReplaceTempView("dup_keys_src")
    val vDupSrc = Snapshot.currentVersion(spark, s"$whD/t")
    val exDup = intercept[UnsupportedOperationException](
      spark.sql(upsert.format("gdmldup.t", "dup_keys_src")))
    assert(exDup.getMessage.contains("cardinality"))
    assert(Snapshot.currentVersion(spark, s"$whD/t") == vDupSrc)

    // UPDATE: one atomic vector + re-image commit, expression evaluated
    // against the current row
    spark.sql("UPDATE gdml.t SET value = value * 2 WHERE id = 50")
    assert(spark.sql("SELECT value FROM gdml.t WHERE id = 50")
      .collect().head.getDouble(0) == 1000.0)
    // BETWEEN resolves like its >= AND <= expansion
    spark.sql("UPDATE gdml.t SET value = value + 1 WHERE id BETWEEN 60 AND 62")
    assert(spark.sql("SELECT id, value FROM gdml.t WHERE id BETWEEN 59 AND 63")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq ==
      Seq((59L, 590.0), (60L, 601.0), (61L, 611.0), (62L, 621.0), (63L, 630.0)))

    // DELETE: vector-only — every data file survives the commit
    val before = Snapshot.filesOf(spark, path,
      Snapshot.currentVersion(spark, path).get).toSet
    spark.sql("DELETE FROM gdml.t WHERE id <= 10")
    val after = Snapshot.filesOf(spark, path,
      Snapshot.currentVersion(spark, path).get).toSet
    assert(before.subsetOf(after), "SQL DELETE re-filed data")
    // ids 1..10 hidden (the moved id=1 included — the vector reaches
    // its post-merge location)
    assert(spark.sql("SELECT count(*) AS n FROM gdml.t")
      .collect().head.getLong(0) == 91L)
    assert(spark.sql("SELECT min(id) AS m FROM gdml.t")
      .collect().head.getLong(0) == 11L)

    // DELETE accepts any predicate UPDATE accepts — including ones
    // Spark cannot translate into source filters — and stays
    // vector-only: value * 2 > 1900 hits ids 96..100 and the re-imaged
    // id=50 (1000.0); abs(id - 55) = 0 hits id 55 alone
    def liveIds(): Set[Long] =
      spark.sql("SELECT id FROM gdml.t").collect().map(_.getLong(0)).toSet
    def files(): Set[String] = Snapshot.filesOf(spark, path,
      Snapshot.currentVersion(spark, path).get).toSet
    val ids0 = liveIds()
    val files0 = files()
    spark.sql("DELETE FROM gdml.t WHERE value * 2 > 1900")
    spark.sql("DELETE FROM gdml.t WHERE abs(id - 55) = 0")
    assert(liveIds() == ids0 -- Set(50L, 55L, 96L, 97L, 98L, 99L, 100L),
      s"expression DELETEs left: ${(ids0 -- liveIds()).toSeq.sorted}")
    assert(files0.subsetOf(files()), "expression DELETE re-filed data")

    // UPDATE and DELETE, with and without a subquery, analyze to the ONE
    // row-level command, and every MERGE — the exact upsert included —
    // to the ONE merge command (analysis only — nothing runs, nothing
    // commits)
    val vAnalyze = Snapshot.currentVersion(spark, path).get
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    (Seq("UPDATE gdml.t SET value = 0 WHERE id = 11",
        "UPDATE gdml.t SET value = 0 WHERE id IN (SELECT id FROM dml_src)",
        "UPDATE gdml.t SET value = (SELECT max(value) FROM dml_src)",
        "DELETE FROM gdml.t WHERE value * 2 > 0",
        "DELETE FROM gdml.t WHERE id IN (SELECT id FROM dml_src)",
        "DELETE FROM gdml.t WHERE id > (SELECT min(id) FROM dml_src)",
        "DELETE FROM gdml.t").map(_ -> "GraftRowLevelCommand") :+
      (upsert.format("gdml.t", "dml_src") -> "GraftMergeIntoCommand"))
      .foreach { case (sql, command) =>
        val analyzed = session.sessionState
          .executePlan(session.sessionState.sqlParser.parsePlan(sql)).analyzed
        assert(analyzed.getClass.getName == s"graft.sources.sql.$command",
          s"$sql analyzed to ${analyzed.getClass.getName}")
      }
    assert(Snapshot.currentVersion(spark, path).get == vAnalyze)

    // refusals: the library contracts surface through SQL unchanged
    // (partition column is not updatable; non-equi ON and rekeying
    // refuse loudly — clause conditions / DELETE actions / partial
    // images are the GENERAL merge path, tested separately)
    intercept[UnsupportedOperationException](
      spark.sql("UPDATE gdml.t SET day = '2024-01-03' WHERE id = 50"))
    intercept[UnsupportedOperationException](spark.sql(
      """MERGE INTO gdml.t AS t USING dml_src AS s ON t.id < s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
    intercept[UnsupportedOperationException](spark.sql(
      """MERGE INTO gdml.t AS t USING dml_src AS s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET id = s.id + 1, value = s.value
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
    // an EXISTS subquery cannot cross the re-resolution seam — loud
    // (scalar and IN subqueries pre-materialize; see the subquery test)
    intercept[UnsupportedOperationException](spark.sql(
      """UPDATE gdml.t SET value = 0
        |WHERE EXISTS (SELECT 1 FROM dml_src)""".stripMargin))

    // an unconditional DELETE hides every row, still vector-only
    val files1 = files()
    spark.sql("DELETE FROM gdml.t")
    assert(liveIds().isEmpty)
    assert(files1.subsetOf(files()), "unconditional DELETE re-filed data")
    ()
  }

  test("UPDATE with subqueries: scalar pre-materializes, IN lowers onto the merge semi-join, unsupported shapes refuse") {
    val wh = tmp("graft-subqwh")
    val path = s"$wh/t"
    Snapshot.append(spark, path, "day",
      rows(1L to 100L).repartition(2, col("id")))
    registerCatalog("gsub", wh)

    // IN-subquery (self-referential, uncorrelated): a distributed
    // semi-join through the merge machinery, atomic single commit
    val v0 = Snapshot.versions(spark, path).size
    spark.sql(
      """UPDATE gsub.t SET value = 0
        |WHERE id IN (SELECT id + 1 FROM gsub.t WHERE id >= 95)""".stripMargin)
    assert(Snapshot.versions(spark, path).size == v0 + 1)
    val zeroed = spark.sql(
      "SELECT id FROM gsub.t WHERE value = 0 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(zeroed == (96L to 100L), s"IN-update matched: $zeroed")

    // IN + residual conjunct: the residual rides as the clause condition
    spark.sql(
      """UPDATE gsub.t SET value = -1
        |WHERE id IN (SELECT id FROM gsub.t WHERE id <= 10)
        |  AND day = '2024-01-01'""".stripMargin)
    val neg = spark.sql("SELECT id FROM gsub.t WHERE value = -1 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(neg == Seq(1L, 3L, 5L, 7L, 9L), s"IN+residual matched: $neg")

    // scalar subqueries in SET and WHERE pre-materialize to literals
    spark.sql(
      """UPDATE gsub.t
        |SET value = value + (SELECT max(id) FROM gsub.t)
        |WHERE id <= (SELECT min(id) + 1 FROM gsub.t)""".stripMargin)
    val got = spark.sql(
      "SELECT id, value FROM gsub.t WHERE id <= 3 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == Seq((1L, 99.0), (2L, 120.0), (3L, -1.0)),
      s"scalar-subquery update state: $got")

    // LINEAGE: the IN-update keeps every updated row's durable id —
    // the merge lowering must not re-mint identities (updateWhere's
    // documented contract, and what lets typed feeds pair pre/post)
    val whL = tmp("graft-subqlinwh")
    val pathL = s"$whL/t"
    Snapshot.append(spark, pathL, "day", rows(1L to 20L),
      meta = Map("rowids" -> "on"))
    registerCatalog("gsublin", whL)
    val idsBefore = Snapshot.readVersionLineage(spark, pathL,
      Snapshot.currentVersion(spark, pathL).get)
      .select(col("id"), col("_row_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    spark.sql(
      """UPDATE gsublin.t SET value = value + 1
        |WHERE id IN (SELECT id FROM gsublin.t WHERE id <= 5)""".stripMargin)
    val after = Snapshot.readVersionLineage(spark, pathL,
      Snapshot.currentVersion(spark, pathL).get)
      .select(col("id"), col("_row_id"), col("value")).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    (1L to 5L).foreach { i =>
      assert(after(i)._1 == idsBefore(i),
        s"IN-update re-minted row $i's id: ${after(i)._1} != ${idsBefore(i)}")
      assert(after(i)._2 == i * 10.0 + 1)
    }
    (6L to 20L).foreach(i => assert(after(i)._1 == idsBefore(i)))

    // refusal shapes stay loud
    intercept[UnsupportedOperationException](spark.sql(
      """UPDATE gsub.t SET value = 0
        |WHERE id NOT IN (SELECT id FROM gsub.t WHERE id = 1)""".stripMargin))
    intercept[UnsupportedOperationException](spark.sql(
      """UPDATE gsub.t SET id = 0
        |WHERE id IN (SELECT id FROM gsub.t WHERE id = 1)""".stripMargin))
    intercept[UnsupportedOperationException](spark.sql(
      """UPDATE gsub.t SET day = '2024-01-03'
        |WHERE id IN (SELECT id FROM gsub.t WHERE id = 1)""".stripMargin))
    ()
  }

  test("general SQL MERGE: clause conditions, WHEN MATCHED DELETE, partial/diverging images, insert-only — one atomic commit each") {
    val wh = tmp("graft-gmergewh")
    val path = s"$wh/t"
    Snapshot.append(spark, path, "day",
      rows(1L to 100L).repartition(2, col("id")))
    registerCatalog("ggm", wh)
    import spark.implicits._
    // ids 1,2,3 exist (values 10,20,30); 501,502 are new
    Seq((1L, 5.0, "2024-01-01"), (2L, 7.0, "2024-01-02"),
        (3L, 100.0, "2024-01-01"), (501L, 1.0, "2024-01-01"),
        (502L, 2.0, "2024-01-02"))
      .toDF("id", "value", "day").createOrReplaceTempView("gm_src")
    val vBefore = Snapshot.versions(spark, path).size
    spark.sql(
      """MERGE INTO ggm.t AS t USING gm_src AS s ON t.id = s.id
        |WHEN MATCHED AND s.value BETWEEN 0 AND 9
        |  THEN UPDATE SET value = t.value + s.value
        |WHEN MATCHED THEN DELETE
        |WHEN NOT MATCHED AND s.id % 2 = 1
        |  THEN INSERT (id, value, day) VALUES (s.id, s.value * 10, s.day)
        |""".stripMargin)
    // updates + deletes + inserts landed as ONE commit
    assert(Snapshot.versions(spark, path).size == vBefore + 1,
      "general MERGE must commit atomically")
    // id=1: first clause (5 in 0..9) → partial update, day kept;
    // id=2: first clause (7 in 0..9) → 20 + 7; id=3: second clause →
    // DELETED; 501: unmatched odd → inserted ×10; 502: unmatched even
    // → no clause applies, dropped
    val got = spark.sql(
      "SELECT id, value, day FROM ggm.t WHERE id IN (1,2,3,501,502) " +
      "ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
      .toSeq
    assert(got == Seq((1L, 15.0, "2024-01-01"), (2L, 27.0, "2024-01-02"),
      (501L, 10.0, "2024-01-01")), s"general MERGE state: $got")
    assert(spark.sql("SELECT count(*) AS n FROM ggm.t")
      .collect().head.getLong(0) == 100L) // -1 deleted, +1 inserted
    // an untouched row is byte-identical
    assert(spark.sql("SELECT value FROM ggm.t WHERE id = 50")
      .collect().head.getDouble(0) == 500.0)

    // INSERT-ONLY merge (no matched clause): deleted id=3 re-inserts,
    // 502 inserts, matched ids stay untouched
    spark.sql(
      """MERGE INTO ggm.t AS t USING gm_src AS s ON t.id = s.id
        |WHEN NOT MATCHED THEN INSERT (id, value, day)
        |  VALUES (s.id, s.value, s.day)""".stripMargin)
    val back = spark.sql(
      "SELECT id, value FROM ggm.t WHERE id IN (1, 3, 502) ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(back == Seq((1L, 15.0), (3L, 100.0), (502L, 2.0)),
      s"insert-only MERGE state: $back")
    assert(spark.sql("SELECT count(*) AS n FROM ggm.t")
      .collect().head.getLong(0) == 102L)

    // a caught-up re-run of the insert-only merge is a legal NO-OP:
    // nothing matches any clause, no commit
    val vNoop = Snapshot.versions(spark, path).size
    spark.sql(
      """MERGE INTO ggm.t AS t USING gm_src AS s ON t.id = s.id
        |WHEN NOT MATCHED THEN INSERT (id, value, day)
        |  VALUES (s.id, s.value, s.day)""".stripMargin)
    assert(Snapshot.versions(spark, path).size == vNoop,
      "an all-matched insert-only MERGE must not commit")

    // Delta's cardinality rule: two source rows acting on one target
    // row refuse BEFORE anything commits
    Seq((1L, 1.0, "2024-01-01"), (1L, 2.0, "2024-01-01"))
      .toDF("id", "value", "day").createOrReplaceTempView("gm_dup")
    val vDup = Snapshot.versions(spark, path).size
    val ex = intercept[UnsupportedOperationException](spark.sql(
      """MERGE INTO ggm.t AS t USING gm_dup AS s ON t.id = s.id
        |WHEN MATCHED THEN DELETE""".stripMargin))
    assert(ex.getMessage.contains("cardinality"))
    assert(Snapshot.versions(spark, path).size == vDup,
      "a refused MERGE must leave no commit behind")

    // ... but the rule is at ROW grain: a duplicated source key whose
    // OTHER rows act on nothing is legal (the CDC is_latest shape)
    Seq((2L, 1000.0, false), (2L, 2000.0, true))
      .toDF("id", "newv", "is_latest").createOrReplaceTempView("gm_cdc")
    spark.sql(
      """MERGE INTO ggm.t AS t USING gm_cdc AS s ON t.id = s.id
        |WHEN MATCHED AND s.is_latest THEN UPDATE SET value = s.newv
        |""".stripMargin)
    assert(spark.sql("SELECT value FROM ggm.t WHERE id = 2")
      .collect().head.getDouble(0) == 2000.0,
      "one acting row among duplicate source keys is a legal merge")

    // DUPLICATE TARGET KEYS + clause condition: the unacted twin of an
    // acted key must SURVIVE (as an identity re-image) — the key-grain
    // replace would otherwise silently drop it
    val wh2 = tmp("graft-dupkeywh")
    import spark.implicits._
    Snapshot.append(spark, s"$wh2/t", "day",
      Seq((1L, 1.0, "2024-01-01"), (1L, 99.0, "2024-01-01"),
          (2L, 5.0, "2024-01-02")).toDF("id", "value", "day"))
    registerCatalog("gdup", wh2)
    Seq((1L, 7.0), (2L, 7.0)).toDF("id", "delta")
      .createOrReplaceTempView("gm_twin")
    spark.sql(
      """MERGE INTO gdup.t AS t USING gm_twin AS s ON t.id = s.id
        |WHEN MATCHED AND t.value < 50
        |  THEN UPDATE SET value = t.value + s.delta""".stripMargin)
    val dupState = spark.sql("SELECT id, value FROM gdup.t ORDER BY id, value")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(dupState == Seq((1L, 8.0), (1L, 99.0), (2L, 12.0)),
      s"duplicate-key clause merge state: $dupState")

    // refusal shapes that stay refused in the general path
    intercept[UnsupportedOperationException](spark.sql(
      """MERGE INTO ggm.t AS t USING gm_src AS s ON t.id = s.id
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin))
    // INSERT leaving the partition column unassigned
    intercept[UnsupportedOperationException](spark.sql(
      """MERGE INTO ggm.t AS t USING gm_src AS s ON t.id = s.id
        |WHEN NOT MATCHED THEN INSERT (id, value)
        |  VALUES (s.id, s.value)""".stripMargin))
    // rekeying the ON column inside UPDATE
    intercept[UnsupportedOperationException](spark.sql(
      """MERGE INTO ggm.t AS t USING gm_src AS s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET id = s.id + 1""".stripMargin))
    ()
  }

  test("SQL MERGE plans its files from manifest key bounds: no layout beside the table, only files with an acting row rewrite, a stats-less table agrees") {
    import spark.implicits._
    val wh = tmp("graft-mstatswh")
    // 8 id ranges x 2 days = 16 files, each with tight id bounds; `s`
    // records them, `p` records none
    val seed = rows(1L to 400L).repartitionByRange(8, col("id"))
    Snapshot.append(spark, s"$wh/s", "day", seed, meta = Map("stats" -> "id"))
    Snapshot.append(spark, s"$wh/p", "day", seed)
    registerCatalog("gmstats", wh)
    def live(t: String): Set[String] =
      Snapshot.currentFiles(spark, s"$wh/$t")._2.toSet
    def fileOf(t: String, id: Long): String = {
      val hits = live(t).filter(f =>
        spark.read.parquet(s"$wh/$t/$f").where(col("id") === id).count() > 0)
      assert(hits.size == 1, s"id $id in files $hits")
      hits.head
    }
    // id 5 acts; id 60 matches but acts on no clause; 1001 inserts
    Seq((5L, 55.0, "2024-01-01"), (60L, -1.0, "2024-01-02"),
        (1001L, 1.0, "2024-01-01"))
      .toDF("id", "value", "day").createOrReplaceTempView("ms_src")
    val merge = """MERGE INTO gmstats.%s AS t USING ms_src AS s ON t.id = s.id
      |WHEN MATCHED AND s.value > 0 THEN UPDATE SET *
      |WHEN NOT MATCHED THEN INSERT *""".stripMargin
    val read = Seq("s", "p").map { t =>
      val before = live(t)
      val f5 = fileOf(t, 5L)
      val f60 = fileOf(t, 60L)
      val n = TestJobs.recordsReadDuring(spark)(spark.sql(merge.format(t)): Unit)
      val after = live(t)
      assert(before -- after == Set(f5),
        s"$t: the MERGE replaced ${before -- after}, not the acting row's $f5")
      assert(after(f60), s"$t: the unacted matched row's file lost its entry")
      n
    }
    // the bounds rule out every file but the two pairs holding 5 and 60
    assert(read(0) < read(1) / 2, s"records read with / without stats: $read")
    def all(t: String) = spark.sql(s"SELECT id, value, day FROM gmstats.$t")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
      .sortBy(_._1).toSeq
    assert(all("s") == all("p"))
    assert(all("s").size == 401 &&
      all("s").filter(r => Set(5L, 60L, 1001L)(r._1)) ==
        Seq((5L, 55.0, "2024-01-01"), (60L, 600.0, "2024-01-02"),
          (1001L, 1.0, "2024-01-01")))
    // nothing is kept beside the tables
    assert(new java.io.File(wh).list().toSet == Set("s", "p"))
    // two source rows acting on one target row still refuse, commit nothing
    Seq((7L, 1.0, "2024-01-01"), (7L, 2.0, "2024-01-01"))
      .toDF("id", "value", "day").createOrReplaceTempView("ms_dup")
    val v = Snapshot.currentVersion(spark, s"$wh/s")
    val ex = intercept[UnsupportedOperationException](spark.sql(
      """MERGE INTO gmstats.s AS t USING ms_dup AS s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *""".stripMargin))
    assert(ex.getMessage.contains("cardinality"))
    assert(Snapshot.currentVersion(spark, s"$wh/s") == v)
  }

  test("SQL MERGE over externally escaped dirs: an a%62 row updates in place, an a+b row round-trips") {
    import spark.implicits._
    val wh = tmp("graft-muriwh")
    val path = s"$wh/t"
    Seq("a%62" -> Seq((3L, 30.0), (4L, 40.0)), "a+b" -> Seq((5L, 50.0)))
      .foreach { case (d, rs) =>
        val flat = s"${tmp("graft-muri")}/flat"
        rs.toDF("id", "value").coalesce(1).write.parquet(flat)
        val dir = new java.io.File(s"$path/day=$d")
        assert(dir.mkdirs())
        new java.io.File(flat).listFiles()
          .filter(_.getName.endsWith(".parquet")).foreach { f =>
            java.nio.file.Files.move(f.toPath, new java.io.File(dir, f.getName).toPath)
          }
      }
    Snapshot.init(spark, path, "day")
    registerCatalog("gmuri", wh)
    Seq((3L, 33.0, "ab"), (5L, 55.0, "a+b"), (9L, 90.0, "ab"))
      .toDF("id", "value", "day").createOrReplaceTempView("muri_src")
    spark.sql(
      """MERGE INTO gmuri.t AS t USING muri_src AS s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = spark.sql("SELECT id, value, day FROM gmuri.t")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
      .sortBy(_._1).toSeq
    assert(got == Seq((3L, 33.0, "ab"), (4L, 40.0, "ab"), (5L, 55.0, "a+b"),
      (9L, 90.0, "ab")), s"MERGE over escaped dirs: $got")
  }

  test("SQL MERGE runs a constant number of jobs: 3 vs 9 touched partitions") {
    import spark.implicits._
    // every day holds 8 rows in 2 files (both layouts stay under Spark's
    // 32-path parallel-listing threshold); the source updates one row
    // and inserts one per day
    def build(catalog: String, days: Int): Unit = {
      val wh = tmp("graft-mjobswh")
      Snapshot.append(spark, s"$wh/t", "day",
        (0 until days * 8).map(i => (i.toLong, i * 1.0, f"2024-01-${i % days + 1}%02d"))
          .toDF("id", "value", "day").repartition(2),
        meta = Map("stats" -> "id"))
      registerCatalog(catalog, wh)
      (0 until days).flatMap(d => Seq((d.toLong, -1.0, f"2024-01-${d + 1}%02d"),
          (1000L + d, 1.0, f"2024-01-${d + 1}%02d")))
        .toDF("id", "value", "day").createOrReplaceTempView(s"${catalog}_src")
    }
    def merge(catalog: String): Seq[String] = TestJobs.jobSitesDuring(spark) {
      spark.sql(
        s"""MERGE INTO $catalog.t AS t USING ${catalog}_src AS s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    build("gmjobs3", 3)
    build("gmjobs9", 9)
    // the source-key collect 1, the cardinality check 3, the write 4;
    // the new files' manifest stats come from their footers (no job)
    Seq(3 -> merge("gmjobs3"), 9 -> merge("gmjobs9")).foreach { case (n, sites) =>
      assert(sites.size == 8,
        s"SQL MERGE at $n touched partitions ran ${sites.size} jobs, pinned 8:" +
          TestJobs.describe(sites))
    }
    assert(spark.sql("SELECT count(*) FROM gmjobs9.t").collect().head.getLong(0) == 81L)
    assert(spark.sql("SELECT count(*) FROM gmjobs9.t WHERE value = -1.0")
      .collect().head.getLong(0) == 9L)
  }

  test("TBLPROPERTIES: CREATE(rowids=on, stats) makes lineage SQL-reachable — INSERT, UPDATE, then graft-cdf crosses the update as typed pairs") {
    val wh = tmp("graft-linwh")
    val path = s"$wh/t"
    registerCatalog("glin", wh)
    spark.sql(
      """CREATE TABLE glin.t (id BIGINT, value DOUBLE, day STRING)
        |USING graft PARTITIONED BY (day)
        |TBLPROPERTIES ('rowids'='on', 'stats'='id')""".stripMargin)
    val meta = Snapshot.currentMeta(spark, path).get
    assert(meta.get("rowids").contains("on") &&
      meta.get("stats").contains("id"),
      s"create must record the declared properties: $meta")

    rows(1L to 20L).createOrReplaceTempView("lin_src")
    spark.sql("INSERT INTO glin.t SELECT * FROM lin_src")
    // the SQL-created, SQL-filled table serves durable row ids
    val withIds = Snapshot.readVersionLineage(spark, path,
      Snapshot.currentVersion(spark, path).get)
    assert(withIds.columns.contains("_row_id") &&
      withIds.select("_row_id").distinct().count() == 20L)
    val idOf7 = withIds.where(col("id") === 7)
      .select("_row_id").collect().head.getLong(0)

    spark.sql("UPDATE glin.t SET value = value + 1000 WHERE id = 7")
    val vNow = Snapshot.currentVersion(spark, path).get

    // the change feed CROSSES the SQL UPDATE as a typed pre/post pair
    // sharing the row's durable id — the CREATE-time rowids property is
    // what gives a SQL-created table lineage for this stream to follow
    val out = scala.collection.mutable
      .ArrayBuffer.empty[(Long, String, Double)]
    val q = spark.readStream.format("graft-cdf")
      .option("path", path).option("startingVersion", vNow.toString)
      .load()
      .writeStream.option("checkpointLocation", s"$wh/ckpt")
      .foreachBatch {
        (df: org.apache.spark.sql.DataFrame, _: Long) =>
          out ++= df.select("_row_id", "_change_type", "value").collect()
            .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
          ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    assert(out.toSet == Set(
      (idOf7, "update_preimage", 70.0),
      (idOf7, "update_postimage", 1070.0)),
      s"typed update crossing: $out")

    // a malformed rowids value refuses at CREATE time
    intercept[UnsupportedOperationException](spark.sql(
      """CREATE TABLE glin.t2 (id BIGINT, day STRING)
        |USING graft PARTITIONED BY (day)
        |TBLPROPERTIES ('rowids'='maybe')""".stripMargin))
    // an unknown property still refuses loudly
    intercept[UnsupportedOperationException](spark.sql(
      """CREATE TABLE glin.t3 (id BIGINT, day STRING)
        |USING graft PARTITIONED BY (day)
        |TBLPROPERTIES ('delta.appendOnly'='true')""".stripMargin))
    ()
  }

  test("DELETE with subqueries: IN lowers onto the merge delete action, scalar pre-materializes into the vector path") {
    val wh = tmp("graft-delsubwh")
    val path = s"$wh/t"
    Snapshot.append(spark, path, "day",
      rows(1L to 50L).repartition(2, col("id")))
    registerCatalog("gdel", wh)

    // IN-subquery + residual conjunct: the GDPR forget-me shape as a
    // distributed merge DELETE, one atomic commit
    val v0 = Snapshot.versions(spark, path).size
    spark.sql(
      """DELETE FROM gdel.t
        |WHERE id IN (SELECT id FROM gdel.t WHERE id >= 40)
        |  AND day = '2024-01-01'""".stripMargin)
    assert(Snapshot.versions(spark, path).size == v0 + 1)
    assert(spark.sql("SELECT count(*) AS n FROM gdel.t")
      .collect().head.getLong(0) == 45L) // odd 41..49 gone
    assert(spark.sql(
      "SELECT count(*) AS n FROM gdel.t WHERE id >= 40 AND day = '2024-01-01'")
      .collect().head.getLong(0) == 0L)

    // scalar subquery: pre-materialized, then the vector-only
    // deleteWhereMoR commit — every data file survives it
    val before = Snapshot.filesOf(spark, path,
      Snapshot.currentVersion(spark, path).get).toSet
    spark.sql(
      "DELETE FROM gdel.t WHERE id > (SELECT max(id) - 5 FROM gdel.t)")
    val after = Snapshot.filesOf(spark, path,
      Snapshot.currentVersion(spark, path).get).toSet
    assert(before.subsetOf(after),
      "scalar-subquery DELETE must commit vector-only")
    assert(spark.sql("SELECT count(*) AS n FROM gdel.t")
      .collect().head.getLong(0) == 42L) // 46,48,50 hidden

    // NOT IN keeps refusing (null semantics are not an anti-join)
    intercept[UnsupportedOperationException](spark.sql(
      """DELETE FROM gdel.t
        |WHERE id NOT IN (SELECT id FROM gdel.t WHERE id = 1)""".stripMargin))
    ()
  }

  test("CALL maintain drives the maintenance ladder from SQL and converges; unknown procedures refuse") {
    val wh = tmp("graft-callwh")
    val path = s"$wh/t"
    // dirty state on all three axes: equality sidecars (streaming
    // upserts), vectors-to-be (the conversion), small files, history
    Snapshot.append(spark, path, "day", rows(1L to 60L).repartition(3),
      meta = Map("eqdel" -> "on"))
    (1 to 3).foreach { n =>
      Snapshot.upsertByKeys(spark, path, "day",
        rows(1L to 10L).withColumn("value", col("value") + n)
          .repartition(col("day")),
        Seq("id")): Unit
    }
    registerCatalog("gcall", wh)
    val call = "CALL gcall.maintain('t', max_eq_sidecars => 0, " +
      "max_files_per_partition => 2, keep_versions => 2)"
    val out = spark.sql(call).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getBoolean(2))).toSeq
    assert(out.map(_._2) ==
      Seq("eq_deletes", "deletion_vectors", "small_files",
        "expired_versions"), s"ladder rows: $out")
    assert(out.forall(_._3), s"every tier had debt, every tier fires: $out")
    // convergence: the second CALL fires nothing (the q89 pin, via SQL)
    val again = spark.sql(call).collect().map(_.getBoolean(2)).toSeq
    assert(again.forall(_ == false), s"second CALL must converge: $again")
    // the data survived the ladder: 60 rows, upserted values current
    assert(spark.sql("SELECT count(*) AS n FROM gcall.t")
      .collect().head.getLong(0) == 60L)
    assert(spark.sql("SELECT value FROM gcall.t WHERE id = 5")
      .collect().head.getDouble(0) == 53.0) // 5*10 + last upsert's +3
    // an unknown procedure refuses (Spark wraps the catalog's listing
    // message as FAILED_TO_LOAD_ROUTINE naming the routine)
    val ex = intercept[Exception](
      spark.sql("CALL gcall.optimize('t')"))
    assert(ex.getMessage.contains("optimize"), ex.getMessage)
    ()
  }

  test("DROP TABLE retires the layout to trash; recreate resurrects no debris; purge_dropped sweeps under the grace rule; CREATE OR REPLACE works") {
    val wh = tmp("graft-dropwh")
    val path = s"$wh/t"
    registerCatalog("gdrop", wh)
    spark.sql(
      """CREATE TABLE gdrop.t (id BIGINT, value DOUBLE, day STRING)
        |USING graft PARTITIONED BY (day)""".stripMargin)
    rows(1L to 30L).createOrReplaceTempView("drop_src")
    spark.sql("INSERT INTO gdrop.t SELECT * FROM drop_src")
    assert(spark.sql("SELECT count(*) AS n FROM gdrop.t")
      .collect().head.getLong(0) == 30L)

    spark.sql("DROP TABLE gdrop.t")
    // gone from the catalog, layout retired (not deleted)
    assert(!spark.catalog.tableExists("gdrop.t"))
    intercept[Exception](spark.sql("SELECT * FROM gdrop.t").collect())
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path)),
      "the dropped layout must leave the table path entirely")
    val trash = new org.apache.hadoop.fs.Path(wh, ".dropped")
    assert(fs.exists(trash) && fs.listStatus(trash).nonEmpty,
      "the dropped layout must land in the warehouse trash")

    // recreate under the SAME name: fresh empty table, zero debris
    spark.sql(
      """CREATE TABLE gdrop.t (id BIGINT, value DOUBLE, day STRING)
        |USING graft PARTITIONED BY (day)""".stripMargin)
    assert(spark.sql("SELECT count(*) AS n FROM gdrop.t")
      .collect().head.getLong(0) == 0L,
      "a recreated table must not resurrect dropped rows")

    // the grace rule: a young trash entry survives a guarded sweep...
    val kept = spark.sql(
      "CALL gdrop.purge_dropped(grace_ms => 3600000)").collect()
    assert(kept.length == 1 && !kept.head.getBoolean(2),
      s"trash younger than grace must survive: ${kept.toSeq}")
    assert(fs.listStatus(trash).nonEmpty)
    // ... and a grace-0 sweep deletes it permanently
    val swept = spark.sql(
      "CALL gdrop.purge_dropped(grace_ms => 0)").collect()
    assert(swept.length == 1 && swept.head.getBoolean(2),
      s"grace-0 sweep must purge: ${swept.toSeq}")
    assert(fs.listStatus(trash).isEmpty,
      "purge_dropped must delete the trash entry's files")

    // CREATE OR REPLACE = drop + create through the same seam
    spark.sql("INSERT INTO gdrop.t SELECT * FROM drop_src")
    spark.sql(
      """CREATE OR REPLACE TABLE gdrop.t (id BIGINT, day STRING)
        |USING graft PARTITIONED BY (day)""".stripMargin)
    val replaced = spark.sql("SELECT * FROM gdrop.t")
    assert(replaced.columns.toSeq == Seq("id", "day") &&
      replaced.count() == 0L,
      "CREATE OR REPLACE must serve the NEW schema with zero rows")

    // recreating a dropped name and merging again matches against the
    // new incarnation only (version numbers alias across incarnations —
    // state kept beside the table would treat existing keys as
    // unmatched and duplicate them)
    import spark.implicits._
    Seq((5L, 555.0, "2024-01-01"), (3001L, 1.0, "2024-01-01"))
      .toDF("id", "value", "day").createOrReplaceTempView("drop_m1")
    spark.sql(
      """CREATE TABLE gdrop.m (id BIGINT, value DOUBLE, day STRING)
        |USING graft PARTITIONED BY (day)""".stripMargin)
    rows(1L to 10L).createOrReplaceTempView("drop_src10")
    spark.sql("INSERT INTO gdrop.m SELECT * FROM drop_src10")
    spark.sql(
      """MERGE INTO gdrop.m AS t USING drop_m1 AS s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    spark.sql("DROP TABLE gdrop.m")
    spark.sql(
      """CREATE TABLE gdrop.m (id BIGINT, value DOUBLE, day STRING)
        |USING graft PARTITIONED BY (day)""".stripMargin)
    spark.sql("INSERT INTO gdrop.m SELECT * FROM drop_src10")
    spark.sql(
      """MERGE INTO gdrop.m AS t USING drop_m1 AS s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val merged = spark.sql(
      "SELECT id, value FROM gdrop.m WHERE id IN (5, 3001) ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(merged == Seq((5L, 555.0), (3001L, 1.0)) &&
      spark.sql("SELECT count(*) AS n FROM gdrop.m")
        .collect().head.getLong(0) == 11L,
      s"post-recreate MERGE must match the new incarnation's rows: $merged")

    // trash is unreachable through the catalog (dot-part refusal)
    intercept[Exception](
      spark.sql("SELECT * FROM gdrop.`.dropped`.whatever").collect())

    // RENAME TABLE: one atomic directory rename — data rides along,
    // the old name frees up, renaming onto a live name refuses
    spark.sql("INSERT INTO gdrop.t SELECT id, day FROM drop_src")
    spark.sql("ALTER TABLE gdrop.t RENAME TO t_renamed")
    assert(spark.sql("SELECT count(*) AS n FROM gdrop.t_renamed")
      .collect().head.getLong(0) == 30L)
    assert(!spark.catalog.tableExists("gdrop.t"))
    spark.sql(
      """CREATE TABLE gdrop.t (id BIGINT, day STRING)
        |USING graft PARTITIONED BY (day)""".stripMargin)
    intercept[Exception](
      spark.sql("ALTER TABLE gdrop.t RENAME TO t_renamed"))
    ()
  }

  test("CREATE TABLE commits an empty declared-schema v1; INSERT fills it; DDL evolves it; refusal shapes") {
    val wh = tmp("graft-createwh")
    registerCatalog("gcr", wh)
    spark.sql(
      """CREATE TABLE gcr.t (id BIGINT, value DOUBLE, day STRING)
        |USING graft PARTITIONED BY (day)""".stripMargin)
    // empty but TYPED: the declared schema serves zero rows, through
    // SQL and the library read alike
    assert(spark.sql("SELECT * FROM gcr.t").columns.toSeq ==
      Seq("id", "value", "day"))
    assert(spark.sql("SELECT count(*) AS n FROM gcr.t")
      .collect().head.getLong(0) == 0L)
    assert(Snapshot.readSnapshot(spark, s"$wh/t").count() == 0L)
    // schema evolution works on the EMPTY table (metadata-only commits
    // have no files to care about)
    spark.sql("ALTER TABLE gcr.t ADD COLUMN note STRING")
    spark.sql("ALTER TABLE gcr.t RENAME COLUMN value TO amount")
    // the first data arrives through plain INSERT (a manifest append)
    spark.sql("INSERT INTO gcr.t VALUES " +
      "(CAST(1 AS BIGINT), 10.0, 'x', '2024-01-01'), " +
      "(CAST(2 AS BIGINT), 20.0, 'y', '2024-01-02')")
    val got = spark.sql(
      "SELECT id, amount, note, day FROM gcr.t ORDER BY id")
      .collect().map(r =>
        (r.getLong(0), r.getDouble(1), r.getString(2), r.getString(3)))
      .toSeq
    assert(got == Seq((1L, 10.0, "x", "2024-01-01"),
      (2L, 20.0, "y", "2024-01-02")))
    // and DML works on the SQL-created table
    spark.sql("DELETE FROM gcr.t WHERE id = 1")
    assert(spark.sql("SELECT count(*) AS n FROM gcr.t")
      .collect().head.getLong(0) == 1L)

    // refusal shapes — each loud, none partially applied
    intercept[Exception]( // duplicate CREATE
      spark.sql("CREATE TABLE gcr.t (a INT, day STRING) " +
        "USING graft PARTITIONED BY (day)"))
    intercept[UnsupportedOperationException]( // no partition column
      spark.sql("CREATE TABLE gcr.t2 (a INT, day STRING) USING graft"))
    intercept[UnsupportedOperationException]( // silently-dropped props
      spark.sql("CREATE TABLE gcr.t3 (a INT, day STRING) USING graft " +
        "PARTITIONED BY (day) TBLPROPERTIES ('x'='y')"))
    assert(Snapshot.currentVersion(spark, s"$wh/t3").isEmpty,
      "a refused CREATE must leave no layout behind")
  }
}
