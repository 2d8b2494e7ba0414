package graft.lake

import graft.SparkSuite
import graft.types.{ColType, TableSchema}

import java.time.Instant

import org.apache.spark.sql.functions._

class LakeSpec extends SparkSuite {

  private def freshRoot() = tempUri("graft-lake-spec")

  private val schema = TableSchema("ev", Seq(
    "id" -> ColType.CInteger, "v" -> ColType.CFloat, "tag" -> ColType.CString))

  test("distributed writer: one object per partition, all rows preserved") {
    import spark.implicits._
    val root = freshRoot()
    val df = (0 until 1000).map(i => (i.toLong, i / 3.0, s"t$i")).toDF("id", "v", "tag")
    val written = LakeWriter.write(df.repartition(4), schema, root,
      Instant.parse("2024-06-01T12:00:00Z"))
    assert(written.size == 4)
    assert(written.forall(_.key.startsWith("2024/06/01/12/ev/")))
    assert(written.map(_.records).sum == 1000L)
    assert(written.forall(w => w.key.contains(w.id.toString)))
    val back = LakeReader.read(spark, root, "ev")
    assert(back.count() == 1000)
    assert(back.agg(sum("id")).collect()(0).getLong(0) == (0L until 1000L).sum)
  }

  test("writer rolls objects at maxRecordsPerObject within a partition") {
    import spark.implicits._
    val root = freshRoot()
    val df = (0 until 1000).map(i => (i.toLong, i / 3.0, s"t$i")).toDF("id", "v", "tag")
    val written = LakeWriter.write(df.coalesce(1), schema, root,
      Instant.parse("2024-06-01T12:00:00Z"), maxRecordsPerObject = 300L)
    assert(written.size == 4) // 300+300+300+100
    assert(written.map(_.records).sorted == Seq(100L, 300L, 300L, 300L))
    assert(LakeReader.read(spark, root, "ev").count() == 1000)
  }

  test("failed write attempt deletes every object it created (no orphans)") {
    import spark.implicits._
    val root = freshRoot()
    val store = new HadoopStore(root)
    val boom = udf((i: Long) =>
      if (i == 25L) throw new RuntimeException("boom") else s"t$i")
    val df = (0 until 100).map(i => (i.toLong, i / 2.0)).toDF("id", "v")
      .withColumn("tag", boom(col("id")))
    intercept[Exception] {
      // roll at 10 → by row 25 the attempt has 2 committed objects plus an
      // in-progress one; ALL must be gone after the failure
      LakeWriter.write(df.coalesce(1), schema, root,
        Instant.parse("2024-06-01T12:00:00Z"), maxRecordsPerObject = 10L)
    }
    assert(store.list("").isEmpty, "failed attempt left orphan objects")
  }

  test("hostile field shapes round-trip: leading '#', embedded newline/CRLF") {
    import spark.implicits._
    val root = freshRoot()
    val rows = Seq(
      (1L, 0.5, "#looks-like-a-comment"),
      (2L, 1.5, "line one\nline two"),
      (3L, 2.5, "crlf\r\nfield"),
      (4L, 3.5, "#with,comma\nand newline"))
    val df = rows.toDF("id", "v", "tag")
    LakeWriter.write(df.coalesce(1), schema, root, Instant.parse("2024-06-01T12:00:00Z"))
    val back = LakeReader.read(spark, root, "ev")
      .select("id", "tag").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // a leading '#' must not be swallowed as a types-header line, and a
    // quoted newline must not split the record (multiLine)
    assert(back == rows.map(r => (r._1, r._3)).toSet)
  }

  test("writer rejects table names that break the key layout") {
    import spark.implicits._
    val df = Seq((1L, 0.5, "x")).toDF("id", "v", "tag")
    intercept[IllegalArgumentException] {
      LakeWriter.write(df, TableSchema("ev/eu", schema.columns), freshRoot())
    }
    intercept[IllegalArgumentException] {
      LakeWriter.write(df, TableSchema("..", schema.columns), freshRoot())
    }
  }

  test("hour-prefix pruning: objects outside the range are never read") {
    import spark.implicits._
    val root = freshRoot()
    val mk = (tag: String) => Seq((1L, 0.5, tag)).toDF("id", "v", "tag").coalesce(1)
    LakeWriter.write(mk("early"), schema, root, Instant.parse("2024-06-01T08:00:00Z"))
    LakeWriter.write(mk("late"), schema, root, Instant.parse("2024-06-01T20:00:00Z"))
    val all = LakeReader.read(spark, root, "ev")
    assert(all.count() == 2)
    val pruned = LakeReader.read(spark, root, "ev",
      hourRange = Some((Instant.parse("2024-06-01T19:00:00Z"), Instant.parse("2024-06-01T23:00:00Z"))))
    assert(pruned.select("tag").collect().map(_.getString(0)).toSeq == Seq("late"))
    // _event_hour is derived from the key prefix
    assert(pruned.select("_event_hour").collect()(0).getTimestamp(0).toInstant
      == Instant.parse("2024-06-01T20:00:00Z"))
  }

  test("_event_hour is UTC regardless of the session timezone") {
    import spark.implicits._
    val root = freshRoot()
    val df = Seq((1L, 0.5, "x")).toDF("id", "v", "tag").coalesce(1)
    LakeWriter.write(df, schema, root, Instant.parse("2024-06-01T20:00:00Z"))
    val saved = spark.conf.get("spark.sql.session.timeZone")
    try {
      // key hours are UTC by the write-side contract; a consumer session
      // pinned to another zone must not shift the derived partition column
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val got = LakeReader.read(spark, root, "ev")
        .select("_event_hour").collect()(0).getTimestamp(0).toInstant
      assert(got == Instant.parse("2024-06-01T20:00:00Z"),
        s"session-tz-dependent parse shifted the hour to $got")
    } finally spark.conf.set("spark.sql.session.timeZone", saved)
  }

  test("pruned read lists only in-range hour prefixes, never the whole lake") {
    import scala.collection.mutable
    import spark.implicits._
    val root = freshRoot()
    val mk = (tag: String) => Seq((1L, 0.5, tag)).toDF("id", "v", "tag").coalesce(1)
    LakeWriter.write(mk("early"), schema, root, Instant.parse("2024-06-01T08:00:00Z"))
    LakeWriter.write(mk("late"), schema, root, Instant.parse("2024-06-01T20:00:00Z"))
    final class RecordingStore(inner: Store) extends Store {
      val listed = mutable.Buffer.empty[String]
      def put(key: String, data: java.io.InputStream): Unit = inner.put(key, data)
      def create(key: String) = inner.create(key)
      def open(key: String) = inner.open(key)
      def list(prefix: String) = { listed += prefix; inner.list(prefix) }
      def exists(key: String) = inner.exists(key)
      def delete(key: String): Unit = inner.delete(key)
      def listDirs(prefix: String) = { listed += s"dirs:$prefix"; inner.listDirs(prefix) }
      def rootUri = inner.rootUri
    }
    val store = new RecordingStore(new HadoopStore(root))
    val pruned = LakeReader.readFrom(spark, store, "ev",
      hourRange = Some((Instant.parse("2024-06-01T19:30:00Z"), Instant.parse("2024-06-01T21:10:00Z"))))
    assert(pruned.select("tag").collect().map(_.getString(0)).toSeq == Seq("late"))
    // exactly the 19:00/20:00/21:00 hour dirs were listed — no "" full
    // walk; the version-directory consult (one listing, the price of
    // tombstone-aware reads) is the only other call
    assert(store.listed.toSet == Set(
      "2024/06/01/19/ev", "2024/06/01/20/ev", "2024/06/01/21/ev",
      LakeVersions.dir("ev")))
  }

  test("unranged read walks directory levels, never other tables' objects") {
    import spark.implicits._
    val root = freshRoot()
    val mk = (tag: String) => Seq((1L, 0.5, tag)).toDF("id", "v", "tag").coalesce(1)
    LakeWriter.write(mk("mine"), schema, root, Instant.parse("2024-06-01T08:00:00Z"))
    LakeWriter.write(mk("other"), TableSchema("other_ev", schema.columns), root,
      Instant.parse("2024-06-01T08:00:00Z"))
    var fullWalks = 0
    var foreignLists = 0
    final class GuardStore(inner: Store) extends Store {
      def put(key: String, data: java.io.InputStream): Unit = inner.put(key, data)
      def create(key: String) = inner.create(key)
      def open(key: String) = inner.open(key)
      def list(prefix: String) = {
        if (prefix.isEmpty) fullWalks += 1
        if (prefix.contains("other_ev")) foreignLists += 1
        inner.list(prefix)
      }
      def exists(key: String) = inner.exists(key)
      def delete(key: String): Unit = inner.delete(key)
      def listDirs(prefix: String) = inner.listDirs(prefix)
      def rootUri = inner.rootUri
    }
    val got = LakeReader.readFrom(spark, new GuardStore(new HadoopStore(root)), "ev")
      .select("tag").collect().map(_.getString(0)).toSeq
    assert(got == Seq("mine"))
    assert(fullWalks == 0, "unranged read must not do a full-lake recursive walk")
    assert(foreignLists == 0, "unranged read must not list other tables' objects")
  }

  test("compaction merges small objects, preserves rows, removes old keys") {
    import spark.implicits._
    val root = freshRoot()
    val store = new HadoopStore(root)
    // 8 tiny objects of 50 rows each (one flush per "hour batch" shape)
    (0 until 8).foreach { b =>
      val df = (0 until 50).map(i => ((b * 50 + i).toLong, i / 2.0, s"t$b-$i"))
        .toDF("id", "v", "tag").coalesce(1)
      LakeWriter.write(df, schema, root, Instant.parse("2024-06-01T10:00:00Z"))
    }
    def dataKeys() = store.list("").count(k =>
      k.contains("/ev/") && !k.startsWith(LakeVersions.Prefix))
    assert(dataKeys() == 8)
    val report = LakeMaintenance.compact(spark, store, "ev", targetRecords = 200L)
    assert(report.oldObjects == 8)
    assert(report.records == 400L)
    assert(report.newObjects == 2) // 400 rows at 200/object
    assert(dataKeys() == 2)
    // rewritten objects stay under their original hour prefix
    assert(report.newKeys.forall(_.startsWith("2024/06/01/10/ev/")))
    // the publish step consumed the staging area completely
    assert(store.list("_staging").isEmpty, "staging keys survived compaction")
    assert(report.newKeys.forall(store.exists))
    val back = LakeReader.read(spark, root, "ev")
    assert(back.count() == 400)
    assert(back.agg(sum("id")).collect()(0).getLong(0) == (0L until 400L).sum)
  }

  test("auto_compact selects only DIRTY hours: small-file debt and vectored objects rewrite, clean hours stay byte-identical, max_hours bounds a run, re-run is a no-op") {
    import spark.implicits._
    val root = freshRoot()
    val store = new HadoopStore(root)
    val cat = s"ac${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    // hour 10: 6 tiny objects (dirty); hour 11: ONE object (clean);
    // hour 12: 5 tiny objects (dirty); hour 13: 2 objects (below
    // min_objects — clean) — ids disjoint per hour
    def landHour(h: Int, objects: Int, lo: Int): Unit =
      (0 until objects).foreach { b =>
        LakeWriter.write(
          (0 until 10).map(i => ((lo + b * 10 + i).toLong, i / 2.0, s"h$h"))
            .toDF("id", "v", "tag").coalesce(1),
          schema, root, Instant.parse(f"2024-06-01T$h%02d:00:00Z"))
      }
    landHour(10, 6, 0); landHour(11, 1, 1000)
    landHour(12, 5, 2000); landHour(13, 2, 3000)
    def bytesOf(k: String) = {
      val in = store.open(k); try in.readAllBytes() finally in.close() }
    val cleanKeys = (store.list("2024/06/01/11") ++ store.list("2024/06/01/13"))
      .filter(_.contains("/ev/"))
    val cleanBytes = cleanKeys.map(k => k -> bytesOf(k)).toMap
    val totalBefore = LakeReader.read(spark, root, "ev").count()
    // dry_run: reports the selection, mutates nothing
    val dry = LakeMaintenance.autoCompact(spark, store, "ev",
      targetRecords = 100L, minObjects = 4, dryRun = true)
    assert(dry.hoursTotal == 4 && dry.hoursSelected == 2, dry.toString)
    assert(store.list("").count(k =>
      k.contains("/ev/") && !k.startsWith(LakeVersions.Prefix)) == 14)
    // max_hours = 1 bounds the run to the DIRTIEST hour (10, 6 objects)
    val first = spark.sql(s"CALL $cat.system.auto_compact(table => 'ev', " +
      "target_records => 100, max_hours => 1)").collect().head
    assert(first.getInt(1) == 1 && first.getInt(2) == 6 &&
      first.getInt(3) == 1, first.toString)
    // the second run picks up hour 12; clean hours never touched
    val second = LakeMaintenance.autoCompact(spark, store, "ev",
      targetRecords = 100L, minObjects = 4)
    assert(second.hoursSelected == 1 &&
      second.compaction.oldObjects == 5 && second.compaction.newObjects == 1,
      second.toString)
    cleanKeys.foreach(k => assert(bytesOf(k).sameElements(cleanBytes(k)),
      s"clean-hour object $k must be byte-identical"))
    assert(LakeReader.read(spark, root, "ev").count() == totalBefore)
    // debt paid: a re-run selects nothing and commits nothing
    val gens = LakeVersions.listDir(store, "ev").gens
    val third = LakeMaintenance.autoCompact(spark, store, "ev",
      targetRecords = 100L, minObjects = 4)
    assert(third.hoursSelected == 0 &&
      LakeVersions.listDir(store, "ev").gens == gens,
      "a debt-free table must be a no-op (no generation minted)")
    // a VECTORED hour becomes dirty regardless of object count: MOR
    // delete in (now single-object) hour 10, then auto_compact folds it
    spark.sql(s"CALL $cat.system.set_dml_mode(table => 'ev', " +
      "mode => 'merge-on-read')").collect()
    // a modulo predicate is not metadata/equality-translatable — it
    // takes the MOR row-level path and publishes a delete VECTOR
    spark.sql(s"DELETE FROM $cat.ev WHERE id % 97 = 7 AND id < 50")
    assert(LakeVersions.currentDvs(store, "ev").nonEmpty)
    val fourth = LakeMaintenance.autoCompact(spark, store, "ev",
      targetRecords = 100L, minObjects = 4)
    assert(fourth.hoursSelected == 1, fourth.toString)
    assert(LakeVersions.currentDvs(store, "ev").isEmpty,
      "the fold must reclaim the vector mapping")
    assert(LakeReader.read(spark, root, "ev").count() == totalBefore - 1)
  }

  test("auto_compact ranks by RECORD-WEIGHTED debt: a many-tiny-objects hour outranks an equal-count hour, and a target-packed hour never rewrites") {
    import spark.implicits._
    val root = freshRoot()
    val store = new HadoopStore(root)
    // equal OBJECT counts, opposite debt (target_records = 100):
    // hour 10: 6 × 5-row objects  — one object suffices, debt 5
    // hour 11: 6 × 100-row objects — already target-packed, debt 0
    // hour 12: 6 × 20-row objects — two objects suffice, debt 4
    def landHour(h: Int, objects: Int, rows: Int, lo: Int): Unit =
      (0 until objects).foreach { b =>
        LakeWriter.write(
          (0 until rows).map(i => ((lo + b * rows + i).toLong, i / 2.0, s"h$h"))
            .toDF("id", "v", "tag").coalesce(1),
          schema, root, Instant.parse(f"2024-06-01T$h%02d:00:00Z"),
          zoneMaps = true)
      }
    landHour(10, 6, 5, 0); landHour(11, 6, 100, 10000)
    landHour(12, 6, 20, 100000)
    def bytesOf(k: String) = {
      val in = store.open(k); try in.readAllBytes() finally in.close() }
    val packedKeys = store.list("2024/06/01/11").filter(_.contains("/ev/"))
    val packedBytes = packedKeys.map(k => k -> bytesOf(k)).toMap
    val total = LakeReader.read(spark, root, "ev").count()
    // the object-count rule alone would select all three hours and rank
    // them equal; record-weighted debt selects 10 and 12, tiniest first
    val dry = LakeMaintenance.autoCompact(spark, store, "ev",
      targetRecords = 100L, minObjects = 4, dryRun = true)
    assert(dry.hoursTotal == 3 && dry.hoursSelected == 2, dry.toString)
    val first = LakeMaintenance.autoCompact(spark, store, "ev",
      targetRecords = 100L, minObjects = 4, maxHours = 1)
    assert(first.hoursSelected == 1 && first.compaction.oldObjects == 6 &&
      first.compaction.records == 30L,
      s"max_hours=1 must pick the TINIEST hour (debt 5, 30 rows): $first")
    val second = LakeMaintenance.autoCompact(spark, store, "ev",
      targetRecords = 100L, minObjects = 4)
    assert(second.hoursSelected == 1 &&
      second.compaction.records == 120L,
      s"the second run picks hour 12 (debt 4): $second")
    // the target-packed hour is debt-free: never selected, never read,
    // byte-identical — and the table is now a no-op, minting nothing
    val gens = LakeVersions.listDir(store, "ev").gens
    val third = LakeMaintenance.autoCompact(spark, store, "ev",
      targetRecords = 100L, minObjects = 4)
    assert(third.hoursSelected == 0 &&
      LakeVersions.listDir(store, "ev").gens == gens,
      s"a packed hour must not count as debt: $third")
    packedKeys.foreach(k => assert(bytesOf(k).sameElements(packedBytes(k)),
      s"target-packed object $k must stay byte-identical"))
    assert(LakeReader.read(spark, root, "ev").count() == total)
  }

  test("compact re-clusters: cluster_by => 'zorder(x,y)' retrofits the Morton layout onto existing unclustered data (the OPTIMIZE ZORDER face)") {
    import spark.implicits._
    val root = freshRoot()
    val store = new HadoopStore(root)
    val cat = s"rc${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val zschema = TableSchema("zt", Seq(
      "x" -> ColType.CInteger, "y" -> ColType.CInteger))
    // a 64x64 grid scrambled across 8 objects: every object spans BOTH
    // full ranges, so a narrow band on either column prunes nothing
    val grid = (for (x <- 0 until 64; y <- 0 until 64)
      yield (x.toLong, y.toLong)).toDF("x", "y").repartition(8)
    LakeWriter.write(grid, zschema, root,
      Instant.parse("2024-06-10T12:00:00Z"), zoneMaps = true)
    def kept(lo: Long, hi: Long, col: String): Int =
      LakeReader.readPruned(spark, root, "zt", col,
        java.math.BigDecimal.valueOf(lo),
        java.math.BigDecimal.valueOf(hi))._2.kept
    assert(kept(10, 17, "y") == 8, "scrambled objects cannot prune")
    // re-cluster in place: 16 z-ordered objects, sidecars rebuilt
    val rep = spark.sql(s"CALL $cat.system.compact(table => 'zt', " +
      "target_records => 256, zone_maps => true, " +
      "cluster_by => 'zorder(x,y)')").collect().head
    assert(rep.getInt(0) == 8 && rep.getInt(1) == 16, rep.toString)
    // rows are layout-only: everything survives exactly once
    val back = LakeReader.read(spark, root, "zt")
    assert(back.count() == 4096 &&
      back.select("x", "y").distinct().count() == 4096)
    // and NOW either column's narrow band prunes (the Morton boxes
    // band both dimensions — the write path's l-shaped claim, gained
    // retroactively by existing data)
    val ky = kept(10, 17, "y")
    val kx = kept(10, 17, "x")
    assert(ky <= 12 && kx <= 12,
      s"z-banded objects must prune on either column alone: y=$ky x=$kx of 16")
    // a FLOAT zorder column refuses with the real reason
    val e = intercept[Exception] {
      LakeMaintenance.compact(spark, store, "zt",
        clusterBy = Some("zorder(x,score)"))
    }
    assert(e.getMessage.contains("not a column") ||
      e.getMessage.contains("INTEGER or TIME"), e.getMessage)
  }

  test("compaction preserves hour attribution across a multi-hour range") {
    import spark.implicits._
    val root = freshRoot()
    val store = new HadoopStore(root)
    // 3 hours × 4 tiny objects of 10 rows
    for (h <- 0 until 3; b <- 0 until 4) {
      val df = (0 until 10).map(i => ((h * 40 + b * 10 + i).toLong, i / 2.0, s"h$h"))
        .toDF("id", "v", "tag").coalesce(1)
      LakeWriter.write(df, schema, root, Instant.parse(f"2024-06-01T1$h%d:00:00Z"))
    }
    val report = LakeMaintenance.compact(spark, store, "ev", targetRecords = 100L)
    assert(report.oldObjects == 12 && report.records == 120L)
    // every hour keeps its own (single, merged) object under its prefix
    for (h <- 0 until 3) {
      val hourKeys = report.newKeys.filter(_.startsWith(f"2024/06/01/1$h%d/ev/"))
      assert(hourKeys.size == 1, s"hour 1$h: $hourKeys")
    }
    // hour-pruned reads see exactly the rows they did before compaction
    val pruned = LakeReader.read(spark, root, "ev",
      hourRange = Some((Instant.parse("2024-06-01T11:00:00Z"), Instant.parse("2024-06-01T11:59:00Z"))))
    assert(pruned.count() == 40)
    assert(pruned.select("tag").distinct().collect().map(_.getString(0)).toSeq == Seq("h1"))
  }

  test("hourPrefixes spans day/month boundaries and truncates to hours") {
    import graft.lake.LakeKeys.hourPrefixes
    assert(hourPrefixes(
      Instant.parse("2024-06-30T22:40:00Z"), Instant.parse("2024-07-01T01:10:00Z"))
      == Seq("2024/06/30/22", "2024/06/30/23", "2024/07/01/00", "2024/07/01/01"))
    // sub-hour range: single prefix
    assert(hourPrefixes(
      Instant.parse("2024-06-01T05:01:00Z"), Instant.parse("2024-06-01T05:59:00Z"))
      == Seq("2024/06/01/05"))
    // inverted range: empty
    assert(hourPrefixes(
      Instant.parse("2024-06-02T00:00:00Z"), Instant.parse("2024-06-01T00:00:00Z")).isEmpty)
  }

  test("reader tolerates malformed rows (PERMISSIVE: nulls, not failure)") {
    val root = freshRoot()
    val store = new HadoopStore(root)
    val out = new java.io.PrintWriter(store.create("2024/01/01/00/mal/aaaaaaaa-0000-0000-0000-000000000001.csv"))
    out.println("#INTEGER,FLOAT")
    out.println("n,v")
    out.println("1,0.5")
    out.println("not_a_number,zzz") // malformed
    out.println("3,1.5")
    out.close()
    val df = LakeReader.read(spark, root, "mal")
    assert(df.count() == 3)
    assert(df.filter(org.apache.spark.sql.functions.col("n").isNull).count() == 1)
    assert(df.agg(org.apache.spark.sql.functions.sum("n")).collect()(0).getLong(0) == 4L)
  }

  test("expire deletes whole hours strictly before the cutoff, only this table") {
    import spark.implicits._
    val root = freshRoot()
    val store = new HadoopStore(root)
    val sch = TableSchema("ev", Seq("id" -> ColType.CInteger))
    val keepSch = TableSchema("keep", Seq("id" -> ColType.CInteger))
    for (h <- Seq("10", "11", "12"))
      LakeWriter.write(Seq(h.toLong).toDF("id"), sch, root,
        Instant.parse(s"2024-06-01T$h:15:00Z"))
    LakeWriter.write(Seq(99L).toDF("id"), keepSch, root,
      Instant.parse("2024-06-01T10:15:00Z"))

    // cutoff inside hour 11 → only hour 10 is STRICTLY before 11:00
    val r = LakeMaintenance.expire(store, "ev",
      Instant.parse("2024-06-01T11:30:00Z"))
    assert(r.deleted == 1, s"expected exactly hour-10 object deleted: $r")
    assert(r.cutoffPrefix == "2024/06/01/11")
    val left = LakeReader.read(spark, root, "ev").select("id")
      .collect().map(_.getLong(0)).sorted
    assert(left.toSeq == Seq(11L, 12L), "hours 11/12 must survive")
    // other table untouched; re-run is a no-op
    assert(LakeReader.read(spark, root, "keep").count() == 1L)
    assert(LakeMaintenance.expire(store, "ev",
      Instant.parse("2024-06-01T11:30:00Z")).deleted == 0)
  }

  test("reconciling read unions drifted schemas by name, widens, null-fills") {
    import spark.implicits._
    val root = freshRoot()
    // three generations of table `ev`: v1 (id, v INTEGER, tag), v2 drops
    // tag + widens v to FLOAT + reorders, v3 adds a new column
    val v1 = TableSchema("ev", Seq(
      "id" -> ColType.CInteger, "v" -> ColType.CInteger, "tag" -> ColType.CString))
    val v2 = TableSchema("ev", Seq(
      "v" -> ColType.CFloat, "id" -> ColType.CInteger))
    val v3 = TableSchema("ev", Seq(
      "id" -> ColType.CInteger, "v" -> ColType.CInteger,
      "tag" -> ColType.CString, "extra" -> ColType.CString))
    val at = Instant.parse("2024-06-01T12:00:00Z")
    LakeWriter.write(Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("id", "v", "tag"),
      v1, root, at)
    LakeWriter.write(Seq((3.5, 3L), (4.5, 4L)).toDF("v", "id"), v2, root, at)
    LakeWriter.write(Seq((5L, 50L, "e", "x")).toDF("id", "v", "tag", "extra"),
      v3, root, at)

    // the strict read must refuse the drift loudly (enforceSchema=false)
    intercept[Throwable] { LakeReader.read(spark, root, "ev").collect() }

    val df = LakeReader.readReconciled(spark, root, "ev")
    // content-defined order: v3 is the widest header so it anchors —
    // NOT key order, which is uuid-random within an hour (flaked pre-fix)
    assert(df.columns.toSeq == Seq("id", "v", "tag", "extra", "_event_hour"))
    assert(df.schema("v").dataType == org.apache.spark.sql.types.DoubleType)
    val rows = df.collect().map(r => (r.getLong(0), r.getDouble(1),
      Option(r.getString(2)), Option(r.getString(3)))).sortBy(_._1)
    assert(rows.toSeq == Seq(
      (1L, 10.0, Some("a"), None), (2L, 20.0, Some("b"), None),
      (3L, 3.5, None, None), (4L, 4.5, None, None),
      (5L, 50.0, Some("e"), Some("x"))))
  }

  test("reconciling read refuses non-numeric type drift loudly") {
    import spark.implicits._
    val root = freshRoot()
    val at = Instant.parse("2024-06-01T12:00:00Z")
    LakeWriter.write(Seq((1L, "a")).toDF("id", "tag"),
      TableSchema("ev", Seq("id" -> ColType.CInteger, "tag" -> ColType.CString)), root, at)
    LakeWriter.write(Seq((2L, 7L)).toDF("id", "tag"),
      TableSchema("ev", Seq("id" -> ColType.CInteger, "tag" -> ColType.CInteger)), root, at)
    val ex = intercept[IllegalArgumentException] {
      LakeReader.readReconciled(spark, root, "ev")
    }
    assert(ex.getMessage.contains("irreconcilable schema drift"))
  }

  test("reader tolerates README type aliases in #types headers") {
    val root = freshRoot()
    val store = new HadoopStore(root)
    val out = new java.io.PrintWriter(store.create("2024/01/01/00/legacy/aaaaaaaa-0000-0000-0000-000000000000.csv"))
    out.println("#text,timestampz,int")
    out.println("name,at,n")
    out.println("x,2024-01-01T00:30:00.000Z,7")
    out.close()
    val df = LakeReader.read(spark, root, "legacy")
    val r = df.collect()(0)
    assert(r.getAs[String]("name") == "x")
    assert(r.getAs[Long]("n") == 7L)
    assert(r.getAs[java.sql.Timestamp]("at").toInstant == Instant.parse("2024-01-01T00:30:00Z"))
  }
}
