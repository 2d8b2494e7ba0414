package graft.lake

import graft.SparkSuite
import graft.types.{ColType, TableSchema}

import java.time.Instant

import org.apache.spark.sql.functions._

/** The round's features at their INTERACTION seams: each one is proven
  * alone in its own suite; these pin that they compose — the
  * configurations a real deployment actually runs (sealed manifests
  * under drifted schemas, hour-clustered plans over manifest-backed
  * listings, streams crossing a seal, runtime pruning off a manifest
  * listing). */
class InteractionSpec extends SparkSuite {

  private val schema = TableSchema("ix", Seq(
    "id" -> ColType.CInteger, "v" -> ColType.CInteger))

  private def freshRoot() = tempUri("graft-interact-spec")

  private def land(root: String, hour: String, ids: Range,
                   sch: TableSchema = schema): Unit = {
    import spark.implicits._
    LakeWriter.write(
      ids.map(i => (i.toLong, i.toLong * 10)).toDF(sch.columnNames: _*)
        .orderBy(sch.columnNames.head).coalesce(1),
      sch, root, Instant.parse(hour),
      maxRecordsPerObject = math.max(1L, ids.size / 2L), zoneMaps = true)
  }

  test("reconcile × manifest: a DRIFTED table reads by-name off a sealed listing, byte-identical to pre-seal") {
    import spark.implicits._
    val root = freshRoot()
    // two header generations across two hours (v INTEGER → v FLOAT + reorder)
    land(root, "2024-06-10T08:00:00Z", 0 until 20)
    LakeWriter.write(Seq((2.5, 100L), (3.5, 101L)).toDF("v", "id"),
      TableSchema("ix", Seq("v" -> ColType.CFloat, "id" -> ColType.CInteger)),
      root, Instant.parse("2024-06-10T09:00:00Z"), zoneMaps = true)
    def rec = spark.read.format("graft-lake").option("table", "ix")
      .option("reconcile", "true").load(root)
    val before = rec.collect().toSeq.sortBy(_.getLong(0))
    val schemaBefore = rec.schema // PRE-seal: the reconciled merge truth
    val store = new HadoopStore(root)
    Manifests.seal(store, "ix", Instant.parse("2024-06-10T09:00:00Z"))
    // schema peek (EVERY object's header) and the scan both list via the
    // manifest now; rows and schema must not move vs the PRE-seal read
    // (a manifest peek missing a drifted generation would collapse the
    // widened column back — exactly what this pins against)
    val after = rec
    assert(after.collect().toSeq.sortBy(_.getLong(0)) == before)
    assert(after.schema == schemaBefore)
    // and pruning still bites across generations off the manifest
    // listing (gen-1's id=0 carries v=0, gen-2's id=100 carries v=2.5)
    val banded = rec.where(col("v") <= 3.0)
    assert(banded.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 100L))
  }

  test("clusterByHour × manifest: the shuffle-free hour rollup plans off the sealed listing") {
    val root = freshRoot()
    for (h <- Seq("2024-06-10T08:00:00Z", "2024-06-10T09:00:00Z",
                  "2024-06-10T10:00:00Z")) land(root, h, 0 until 30)
    val store = new HadoopStore(root)
    Manifests.seal(store, "ix", Instant.parse("2024-06-10T09:00:00Z"))
    val df = spark.read.format("graft-lake").option("table", "ix")
      .option("clusterByHour", "true").load(root)
      .groupBy(col("_event_hour")).agg(sum("id").as("s"), count(lit(1)).as("n"))
    val rows = df.collect()
    assert(rows.length == 3 && rows.forall(_.getLong(2) == 30))
    assert(!df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head.contains("Exchange"),
      "hour clustering must hold when partitions plan off the manifest")
    assert(store.exists(Manifests.manifestKey("ix")), "reads never invalidate")
  }

  test("stream × seal: a seal landing mid-stream changes discovery, never delivery") {
    val root = freshRoot()
    val ckpt = tempDir("ix-ckpt").toFile.getAbsolutePath
    land(root, "2024-06-10T08:00:00Z", 0 until 20)
    val got = new scala.collection.mutable.ArrayBuffer[Long]
    val q = spark.readStream.format("graft-lake").option("table", "ix").load(root)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        got.synchronized { got ++= df.select("id").collect().map(_.getLong(0)) }; ()
      }.start()
    q.processAllAvailable()
    assert(got.sorted.toSeq == (0L until 20L))
    // the nightly seal fires while the stream runs
    val store = new HadoopStore(root)
    Manifests.seal(store, "ix", Instant.parse("2024-06-10T08:00:00Z"))
    // new objects above the seal point discover normally…
    land(root, "2024-06-10T09:00:00Z", 20 until 40)
    q.processAllAvailable()
    assert(got.sorted.toSeq == (0L until 40L))
    // …and a backfill INTO the sealed hour invalidates the manifest on
    // its way in, so the stream discovers it too — exactly once
    land(root, "2024-06-10T08:00:00Z", 40 until 50)
    q.processAllAvailable()
    q.stop()
    assert(got.sorted.toSeq == (0L until 50L),
      s"the backfill must deliver exactly once: ${got.size} rows")
    assert(got.size == got.distinct.size)
  }

  test("runtime pruning × manifest: the DPP join prunes objects listed off the manifest") {
    import spark.implicits._
    val root = freshRoot()
    // id-banded objects across two hours, both sealed
    land(root, "2024-06-10T08:00:00Z", 0 until 40)
    land(root, "2024-06-10T09:00:00Z", 40 until 80)
    val store = new HadoopStore(root)
    Manifests.seal(store, "ix", Instant.parse("2024-06-10T09:00:00Z"))
    val total = LakeReader.listTableKeys(store, "ix", None).size
    val dim = spark.range(200L).select(col("id").as("k"),
      (col("id") / 10).cast("long").as("grp")).where(col("grp") === 1) // k 10..19
    val fact = spark.read.format("graft-lake").option("table", "ix").load(root)
    val joined = fact.join(dim, col("id") === col("k"))
    val n = joined.queryExecution.executedPlan.executeCollect().length
    assert(n == 10)
    val lakeScan = {
      def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[LakeScan] =
        (p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            scans(a.executedPlan)
          case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            scans(s.plan)
          case o => o.children.flatMap(scans)
        }) ++ (p match {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.scan match { case ls: LakeScan => Seq(ls); case _ => Nil }
          case _ => Nil
        })
      scans(joined.queryExecution.executedPlan).head
    }
    assert(lakeScan.runtimeFilters.nonEmpty, "the runtime filter must fire")
    assert(lakeScan.plannedKeys.nonEmpty && lakeScan.plannedKeys.size < total,
      s"manifest-listed objects must still prune at runtime: " +
        s"${lakeScan.plannedKeys.size} of $total")
  }

  // ---- round-13 seams: the streaming prune composed with the features
  // it exists for (sealed manifests, startFrom backfills)

  private val tagSchema = TableSchema("ixs", Seq(
    "id" -> ColType.CInteger, "tag" -> ColType.CString))

  private def landTag(root: String, hour: String, tag: String): Unit = {
    import spark.implicits._
    LakeWriter.write(
      (0 until 25).map(i => (i.toLong, tag)).toDF("id", "tag")
        .orderBy("id").coalesce(1),
      tagSchema, root, Instant.parse(hour), zoneMaps = true,
      bloomColumns = Seq("tag"))
  }

  private def streamPlanned(s: LakeMicroBatchStream): Seq[String] = {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val start = s.initialOffset()
    val end = s.latestOffset(start, ReadLimit.allAvailable())
    s.planInputPartitions(start, end)
      .map(_.asInstanceOf[LakeInputPartition].key).sorted.toSeq
  }

  private def batchKeys(root: String, table: String,
                        cond: org.apache.spark.sql.Column): Seq[String] = {
    val df = spark.read.format("graft-lake").option("table", table)
      .load(root).where(cond)
    df.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan
    }.get.asInstanceOf[LakeScan].plannedKeys.sorted
  }

  test("stream prune × manifest: filtered discovery rides the sealed listing, batch-identical, manifest intact") {
    val root = freshRoot()
    for (h <- 8 to 11; tg <- Seq("t0", "t1"))
      landTag(root, f"2024-06-10T$h%02d:00:00Z", tg)
    val store = new HadoopStore(root)
    Manifests.seal(store, "ixs", Instant.parse("2024-06-10T10:00:00Z"))
    val pushed: Array[org.apache.spark.sql.sources.Filter] =
      Array(org.apache.spark.sql.sources.EqualTo("tag", "t1"))
    val s = new LakeMicroBatchStream(root, "ixs", tagSchema,
      LakeDataSource.outputStruct(tagSchema), None, None,
      startFromLatest = false, pushed = pushed)
    val planned = streamPlanned(s)
    assert(planned == batchKeys(root, "ixs", col("tag") === "t1"),
      "the stream's bloom prune over a manifest-backed listing equals the batch scan")
    assert(planned.size == 4, s"one t1 object per hour: $planned")
    assert(store.exists(Manifests.manifestKey("ixs")),
      "a stream READ never invalidates the manifest")
  }

  test("stream prune × startFrom: the filtered backfill plans only matching objects ABOVE T") {
    val root = freshRoot()
    for (h <- 8 to 11; tg <- Seq("t0", "t1"))
      landTag(root, f"2024-06-10T$h%02d:00:00Z", tg)
    val pushed: Array[org.apache.spark.sql.sources.Filter] =
      Array(org.apache.spark.sql.sources.EqualTo("tag", "t1"))
    val s = new LakeMicroBatchStream(root, "ixs", tagSchema,
      LakeDataSource.outputStruct(tagSchema), None, None,
      startFromLatest = false,
      startFromHour = Some(Instant.parse("2024-06-10T10:00:00Z")),
      pushed = pushed)
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val start = s.initialOffset()
    val end = s.latestOffset(start, ReadLimit.allAvailable())
    // the ledger is doubly bounded: hours below T are sealed out, and
    // only the hours the filter admits are ever listed
    val seen = end.asInstanceOf[LakeStreamOffset].seen
    assert(seen.forall(k => LakeStreamOffset.hourOf(k) >= "2024/06/10/10"),
      s"startFrom seals history out of the ledger: $seen")
    val planned = s.planInputPartitions(start, end)
      .map(_.asInstanceOf[LakeInputPartition].key).sorted.toSeq
    val expect = batchKeys(root, "ixs", col("tag") === "t1" &&
      col("_event_hour") >= java.sql.Timestamp.from(
        Instant.parse("2024-06-10T10:00:00Z")))
    assert(planned == expect && planned.size == 2,
      s"'tenant X from T' reads exactly its objects: $planned")
  }
  test("SQL DML × manifest: a COW UPDATE into a SEALED hour invalidates the manifest, and the next read lists truth") {
    val root = freshRoot()
    land(root, "2024-06-10T08:00:00Z", 0 until 20)
    land(root, "2024-06-10T09:00:00Z", 100 until 120)
    val store = new HadoopStore(root)
    Manifests.seal(store, "ix", Instant.parse("2024-06-10T09:00:00Z"))
    assert(store.exists(Manifests.manifestKey("ix")))
    val cat = s"ixdml${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    // arbitrary predicate → ReplaceData: replacement objects publish
    // into the SEALED hour and originals retire out of it — a stale
    // manifest would list the retired keys and miss the replacements
    spark.sql(s"UPDATE $cat.ix SET v = v + 1 WHERE id % 7 = 2")
    assert(!store.exists(Manifests.manifestKey("ix")),
      "the COW commit must invalidate the covering manifest")
    val after = spark.table(s"$cat.ix")
    assert(after.count() == 40)
    assert(after.where(col("id") % 7 === 2 && col("v") % 10 =!= 1).count() == 0,
      "every matching row carries the update")
    // reads keep working after a fresh RE-seal over the rewritten state
    Manifests.seal(store, "ix", Instant.parse("2024-06-10T09:00:00Z"))
    assert(spark.table(s"$cat.ix").count() == 40)
    assert(LakeReader.listTableKeys(store, "ix", None).toSet ==
      LakeReader.rawListTableKeys(store, "ix", None).toSet,
      "the re-sealed manifest lists exactly the post-DML objects")
  }

  test("SQL DML × manifest: a metadata DELETE under a seal retires listed keys and heals the listing") {
    val root = freshRoot()
    land(root, "2024-06-10T08:00:00Z", 0 until 20)
    land(root, "2024-06-10T09:00:00Z", 100 until 120)
    val store = new HadoopStore(root)
    Manifests.seal(store, "ix", Instant.parse("2024-06-10T09:00:00Z"))
    val cat = s"ixdel${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    // pure hour-range delete: whole sealed hour retires
    spark.sql(s"DELETE FROM $cat.ix WHERE _event_hour < TIMESTAMP '2024-06-10 09:00:00+00:00'")
    assert(!store.exists(Manifests.manifestKey("ix")),
      "retiring sealed keys must invalidate the manifest")
    assert(spark.table(s"$cat.ix").count() == 20)
    assert(LakeReader.listTableKeys(store, "ix", None)
      .forall(_.startsWith("2024/06/10/09/")))
  }

  test("retention × manifest: a seal over RETAINED history lists the dead keys, tombstones subtract them, time travel still reads them") {
    val root = freshRoot()
    land(root, "2024-06-10T08:00:00Z", 0 until 20)
    land(root, "2024-06-10T09:00:00Z", 100 until 120)
    val store = new HadoopStore(root)
    val cat = s"ixret${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CALL $cat.system.set_retention(table => 'ix', retain => true)")
    spark.sql(s"UPDATE $cat.ix SET v = v + 1 WHERE id % 7 = 2") // gen 2
    // the replaced originals are RETAINED on disk; a fresh seal's raw
    // walk lists them — the manifest-backed read must still subtract
    // the tombstones and agree with the live view exactly
    Manifests.seal(store, "ix", Instant.parse("2024-06-10T09:00:00Z"))
    val live = LakeReader.listTableKeys(store, "ix", None).toSet
    val raw = LakeReader.rawListTableKeys(store, "ix", None).toSet
    assert(raw.size > live.size,
      s"retained history must be ON DISK: raw ${raw.size} vs live ${live.size}")
    assert(spark.table(s"$cat.ix").count() == 40)
    assert(spark.table(s"$cat.ix")
      .where(col("id") % 7 === 2 && col("v") % 10 =!= 1).count() == 0)
    // and the PRE-DML generation still reads exactly, manifest present
    assert(spark.sql(s"SELECT sum(v) FROM $cat.ix VERSION AS OF 1")
      .head.getLong(0) == ((0L until 20L) ++ (100L until 120L)).map(_ * 10).sum)
    assert(store.exists(Manifests.manifestKey("ix")),
      "snapshot reads never invalidate the manifest")
  }

}
