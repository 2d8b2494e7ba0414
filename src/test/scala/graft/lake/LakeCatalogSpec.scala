package graft.lake

import graft.SparkSuite
import graft.types.{ColType, TableSchema}

import java.nio.file.Files
import java.time.Instant

import org.apache.spark.sql.functions._

/** [[LakeCatalog]]: lake tables named in plain SQL resolve to the same
  * connector table — pushdowns included — and INSERT INTO appends
  * through the staged-publish protocol. DDL refuses loudly. */
class LakeCatalogSpec extends SparkSuite {

  private def freshCatalog(): (String, String) = {
    val root = tempUri("graft-cat-spec")
    val name = s"lakecat${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$name", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    (name, root)
  }

  private val schema = TableSchema("ev", Seq(
    "id" -> ColType.CInteger, "tag" -> ColType.CString))

  private def land(root: String, table: String, n: Int,
                   hour: String = "2024-07-01T08:00:00Z"): Unit = {
    import spark.implicits._
    val df = (0 until n).map(i => (i.toLong, s"t${i % 4}"))
      .toDF("id", "tag").orderBy("id").coalesce(1)
    LakeWriter.write(df, schema.copy(name = table), root,
      Instant.parse(hour), maxRecordsPerObject = 250L, zoneMaps = true,
      bloomColumns = Seq("tag"))
  }

  test("SQL names lake tables; pushdowns (filter prune, agg metadata) ride along") {
    val (cat, root) = freshCatalog()
    land(root, "ev", 1000)
    // plain SELECT
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.ev")
      .collect().head.getLong(0) == 1000)
    // the aggregate pushes to the sidecar scan through SQL resolution
    val agg = spark.sql(
      s"SELECT count(*) AS n, min(id) AS mn, max(id) AS mx FROM $cat.ev")
    assert(agg.queryExecution.executedPlan.toString.contains("graft-lake-agg"),
      s"SQL aggregate must push:\n${agg.queryExecution.executedPlan}")
    assert(agg.collect().head.toSeq == Seq(1000L, 0L, 999L))
    // filter pushdown prunes objects through SQL too
    val q = spark.sql(s"SELECT id, tag FROM $cat.ev WHERE id >= 600 AND id < 700")
    val scan = q.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }.get.asInstanceOf[LakeScan]
    assert(scan.plannedKeys.size == 1, s"band prune through SQL: ${scan.plannedKeys}")
    assert(q.count() == 100)
    // a SQL join of two lake tables works end-to-end
    land(root, "dim", 40)
    val j = spark.sql(
      s"SELECT count(*) AS n FROM $cat.ev e JOIN $cat.dim d ON e.id = d.id")
    assert(j.collect().head.getLong(0) == 40)
  }

  test("readStream.table streams a catalog-named lake table (MICRO_BATCH_READ through SQL resolution)") {
    val (cat, root) = freshCatalog()
    land(root, "ev", 500)
    spark.catalog.dropTempView("cat_drain")
    val ckpt = tempDir("graft-cat-ckpt").toFile.getAbsolutePath
    val q = spark.readStream.table(s"$cat.ev")
      .writeStream.format("memory").queryName("cat_drain")
      .outputMode("append").option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("cat_drain")
    val batch = spark.sql(s"SELECT * FROM $cat.ev")
    assert(streamed.count() == 500)
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0)
  }

  test("catalog-level reconcile reads drifted tables; scan-level-only reconcile refuses with the remedy") {
    import spark.implicits._
    import java.time.Instant
    val (cat, root) = freshCatalog()
    // drifted generations of table `dv`
    LakeWriter.write(Seq((1L, 10L)).toDF("id", "v"),
      TableSchema("dv", Seq("id" -> ColType.CInteger, "v" -> ColType.CInteger)),
      root, Instant.parse("2024-07-01T08:00:00Z"))
    LakeWriter.write(Seq((2.5, 2L)).toDF("v", "id"),
      TableSchema("dv", Seq("v" -> ColType.CFloat, "id" -> ColType.CInteger)),
      root, Instant.parse("2024-07-01T08:00:00Z"))
    // a scan-level-only flag cannot rebuild the table's schema: refuse
    val ex = intercept[Exception] {
      spark.read.option("reconcile", "true").table(s"$cat.dv").collect()
    }
    assert(ex.getMessage.contains("reconcile must be set where the table resolves"),
      s"got: ${ex.getMessage}")
    // the catalog-level switch resolves every table in reconcile mode
    val rcat = s"${cat}r"
    spark.conf.set(s"spark.sql.catalog.$rcat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$rcat.root", root)
    spark.conf.set(s"spark.sql.catalog.$rcat.reconcile", "true")
    val rows = spark.sql(s"SELECT id, v FROM $rcat.dv ORDER BY id").collect()
    assert(rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((1L, 10.0), (2L, 2.5)))
  }

  test("SHOW TABLES lists the key layout's tables; missing tables fail loudly") {
    val (cat, root) = freshCatalog()
    land(root, "ev", 10)
    land(root, "other", 10)
    val tables = spark.sql(s"SHOW TABLES IN $cat").collect()
      .map(_.getString(1)).toSet
    assert(tables == Set("ev", "other"), s"$tables")
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.nope").collect()
    }
    assert(e.getMessage.contains("nope"))
  }

  test("CALL procedures run the maintenance protocol: compact, ensure_indexes, expire") {
    val (cat, root) = freshCatalog()
    // 16 small objects over two hours
    import spark.implicits._
    val df = (0 until 1000).map(i => (i.toLong, s"t${i % 4}")).toDF("id", "tag")
    LakeWriter.write(df.repartition(8), schema, root,
      Instant.parse("2024-07-01T08:00:00Z"))
    LakeWriter.write(df.repartition(8), schema, root,
      Instant.parse("2024-07-03T10:00:00Z"))
    val store = new HadoopStore(root)
    assert(LakeReader.listTableKeys(store, "ev", None).size == 16)
    // compact with re-indexing: staged publish, hour-preserving
    val rep = spark.sql(
      s"CALL $cat.system.compact(table => 'ev', zone_maps => true)").collect()
    assert(rep.head.getInt(0) == 16 && rep.head.getInt(1) == 2 &&
      rep.head.getLong(2) == 2000, rep.head.toSeq.toString)
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev")
      .collect().head.getLong(0) == 2000)
    // ensure_indexes: compaction already wrote stats, so nothing missing
    val ens = spark.sql(
      s"CALL $cat.system.ensure_indexes(table => 'ev', bloom_columns => 'tag')")
      .collect().head
    assert(ens.getInt(0) == 0 && ens.getInt(1) == 2 && ens.getInt(2) == 0,
      ens.toSeq.toString)
    // expire the first hour only
    val exp = spark.sql(
      s"""CALL $cat.system.expire(table => 'ev',
         |  older_than => TIMESTAMP '2024-07-02 00:00:00')""".stripMargin)
      .collect().head
    assert(exp.getInt(0) == 1, exp.toSeq.toString)
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev")
      .collect().head.getLong(0) == 1000)
    // unknown procedure fails loudly (Spark wraps our available-list
    // message as the FAILED_TO_LOAD_ROUTINE cause)
    val e = intercept[Exception] {
      spark.sql(s"CALL $cat.system.vacuum(table => 'ev')").collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(e.getMessage.contains("vacuum") &&
      chain(e).exists(c => Option(c.getMessage).exists(_.contains("compact"))),
      chain(e).map(_.getMessage).mkString(" | "))
  }

  test("CALL ... dry_run => true reports and mutates NOTHING: compact and ensure_indexes report-only paths") {
    val (cat, root) = freshCatalog()
    import spark.implicits._
    val df = (0 until 1000).map(i => (i.toLong, s"t${i % 4}")).toDF("id", "tag")
    LakeWriter.write(df.repartition(8), schema, root,
      Instant.parse("2024-07-01T08:00:00Z"))
    val store = new HadoopStore(root)
    // an orphan sidecar ensure_indexes WOULD sweep
    val orphan = s"${ZoneMaps.Prefix}2024/07/01/08/ev/gone.csv.gz.zmap"
    val out = store.create(orphan); out.write("junk".getBytes); out.close()
    val snapshot = LakeReader.listTableKeys(store, "ev", None)
      .map { k =>
        val in = store.open(k)
        try k -> in.readAllBytes().toSeq finally in.close()
      }.toMap
    val crep = spark.sql(s"CALL $cat.system.compact(table => 'ev', " +
      "target_records => 250, dry_run => true)").collect().head
    // the real run's sizing arithmetic, reported: 8 objects, 1000 rows,
    // ceil(1000/250) = 4 projected objects
    assert(crep.getInt(0) == 8 && crep.getInt(1) == 4 &&
      crep.getLong(2) == 1000, crep.toSeq.toString)
    val erep = spark.sql(s"CALL $cat.system.ensure_indexes(table => 'ev', " +
      "bloom_columns => 'tag', dry_run => true)").collect().head
    // 8 objects lack stats AND blooms; 1 orphan would sweep
    assert(erep.getInt(0) == 8 && erep.getInt(1) == 8 && erep.getInt(2) == 1,
      erep.toSeq.toString)
    // NOTHING moved: same keys, same bytes, orphan still present, no
    // sidecars built
    val after = LakeReader.listTableKeys(store, "ev", None)
    assert(after.toSet == snapshot.keySet, s"dry runs must not compact: $after")
    after.foreach { k =>
      val in = store.open(k)
      val b = try in.readAllBytes().toSeq finally in.close()
      assert(b == snapshot(k), s"dry runs must leave $k byte-identical")
      assert(ZoneMaps.read(store, k).isEmpty && BloomMaps.read(store, k).isEmpty,
        s"dry runs must not build sidecars for $k")
    }
    assert(store.exists(orphan), "dry runs must not sweep orphans")
  }

  test("INSERT INTO appends through the staged publish; DDL refuses loudly") {
    val (cat, root) = freshCatalog()
    land(root, "ev", 500)
    // INSERT INTO resolves the same LakeTable → append write path
    // (_event_hour required by-name; its value is ignored)
    spark.sql(
      s"""INSERT INTO $cat.ev
         |SELECT id + 1000 AS id, concat('x', CAST(id % 3 AS STRING)) AS tag,
         |       TIMESTAMP '2024-07-01 00:00:00' AS _event_hour
         |FROM range(100)""".stripMargin)
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.ev")
      .collect().head.getLong(0) == 600)
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.ev WHERE id >= 1000")
      .collect().head.getLong(0) == 100)
    val store = new HadoopStore(root)
    assert(store.list("_staging").isEmpty, "no staging residue")
    // DDL beyond schema evolution is refused (ALTER ADD/DROP/widen is
    // SUPPORTED since r15 — LakeEvolutionSpec owns it; renames are not)
    intercept[Exception] { spark.sql(s"DROP TABLE $cat.ev") }
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.fresh (id BIGINT) USING graft-lake")
    }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.ev RENAME COLUMN tag TO label")
    }
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev")
      .collect().head.getLong(0) == 600, "refused DDL must change nothing")
  }
  test("CALL sweep_staging: orphaned staging prefixes sweep by age, fresh ones and published objects survive") {
    val (cat, root) = freshCatalog()
    land(root, "ev", 100)
    val store = new HadoopStore(root)
    val dataKeys = LakeReader.listTableKeys(store, "ev", None)
    // an ORPHAN from a hard-killed job: content 2h old, plus its
    // zone-map mirror; and a manifest-style staging FILE
    def put(key: String, ageMin: Long): Unit = {
      val out = store.create(key)
      out.write("orphan".getBytes("UTF-8")); out.close()
      val f = java.nio.file.Paths.get(
        new java.net.URI(s"$root/$key"))
      java.nio.file.Files.setLastModifiedTime(f,
        java.nio.file.attribute.FileTime.from(
          java.time.Instant.now().minusSeconds(ageMin * 60)))
    }
    put("_staging/dead-job/2024/07/01/08/ev/x.csv.gz", 120)
    put(s"${ZoneMaps.Prefix}_staging/dead-job/2024/07/01/08/ev/x.csv.gz.zmap", 120)
    put("_staging/manifest-dead", 120)
    put("_staging/alive-job/part-0.csv.gz", 0) // fresh: a live writer
    val r = spark.sql(
      s"CALL $cat.system.sweep_staging(older_than => TIMESTAMP '${
        java.time.LocalDateTime.ofInstant(
          java.time.Instant.now().minusSeconds(3600),
          java.time.ZoneOffset.UTC).toString.replace('T', ' ')}')")
      .collect().head
    assert(r.getInt(0) == 2 && r.getInt(1) == 1,
      s"dead-job + manifest-dead swept, alive kept: $r")
    assert(store.list("_staging/dead-job").isEmpty)
    assert(store.list(s"${ZoneMaps.Prefix}_staging/dead-job").isEmpty,
      "the zone-map mirror sweeps with its data prefix")
    assert(!store.exists("_staging/manifest-dead"))
    assert(store.exists("_staging/alive-job/part-0.csv.gz"),
      "a fresh prefix never sweeps")
    assert(LakeReader.listTableKeys(store, "ev", None) == dataKeys,
      "published objects are out of scope")
  }

  test("CALL stats: metadata-plane health report — exact-or-null rows, sidecar coverage, seal frontier, fan-out path identical") {
    val (cat, root) = freshCatalog()
    land(root, "ev", 1000)                       // 4 objects WITH both sidecars
    land(root, "ev", 100, "2024-07-01T09:00:00Z") // 1 more, second hour
    val store = new HadoopStore(root)
    def call() = spark.sql(s"CALL $cat.system.stats(table => 'ev')").collect().head
    val r1 = call()
    assert(r1.getInt(0) == 5 && r1.getInt(1) == 2, s"objects/hours: $r1")
    assert(r1.getLong(2) == 1100L, s"sidecar-exact rows: $r1")
    assert(r1.getInt(3) == 5 && r1.getInt(4) == 5, s"full coverage: $r1")
    assert(r1.isNullAt(5), "no seal yet")
    // the distributed walk returns the SAME report
    val direct = LakeMaintenance.tableStats(root, "ev")
    assert(KeyWalk.pinned(KeyWalk.OnExecutors())(
      LakeMaintenance.tableStats(root, "ev")) == direct, "fan-out ≡ driver walk")
    // a torn sidecar makes rows NULL (exact-or-absent), coverage drops
    val k = LakeReader.listTableKeys(store, "ev", None).head
    store.delete(ZoneMaps.statsKey(k))
    Manifests.seal(store, "ev", java.time.Instant.parse("2024-07-01T09:00:00Z"))
    val r2 = call()
    assert(r2.isNullAt(2), "one missing sidecar poisons the total to NULL")
    assert(r2.getInt(3) == 4, s"stats coverage reflects the loss: $r2")
    assert(!r2.isNullAt(5), s"seal frontier reported: $r2")
  }

}
