package graft.lake

import graft.SparkSuite
import graft.types.{ColType, TableSchema}

import java.time.Instant

import org.apache.spark.sql.functions._

/** WRITE-AUDIT-PUBLISH: `df.write.option("auditId", id)` lands a batch
  * at its final keys but INVISIBLY (behind a named audit intent);
  * `option("withAudit", id)` reads live ∪ staged for validation;
  * `CALL lake.system.publish_audit` flips visibility at ONE generation
  * CAS (or `abort_audit` drops the batch untraced). The suite pins
  * invisibility across every read surface, the atomic flip, stream
  * exactly-once from the publish, the janitor exemption, and the
  * one-write-per-audit refusal. */
class LakeWapSpec extends SparkSuite {

  private val schema = TableSchema("ev", Seq(
    "id" -> ColType.CInteger, "tag" -> ColType.CString,
    "v" -> ColType.CFloat))

  private def fixture(): (String, String, HadoopStore) = {
    val root = tempUri("graft-wap-spec")
    val cat = s"wap${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root, new HadoopStore(root))
  }

  private def land(root: String, n: Int = 500): Unit = {
    import spark.implicits._
    LakeWriter.write(
      (0 until n).map(i => (i.toLong, s"t${i % 5}", i * 1.0))
        .toDF("id", "tag", "v").orderBy("id").coalesce(1),
      schema, root, Instant.parse("2024-07-01T08:00:00Z"),
      maxRecordsPerObject = 250L, zoneMaps = true)
  }

  private def auditWrite(root: String, id: String, lo: Int, n: Int): Unit = {
    import spark.implicits._
    (lo until lo + n).map(i => (i.toLong, "staged", i * 1.0))
      .toDF("id", "tag", "v")
      .withColumn("_event_hour",
        lit(java.sql.Timestamp.from(Instant.parse("2024-07-01T09:00:00Z"))))
      .coalesce(1)
      .write.format("graft-lake").option("table", "ev")
      .option("zoneMaps", "true")
      .option("auditId", id).mode("append").save(root)
  }

  test("an audited append is INVISIBLE everywhere until publish; withAudit reads live ∪ staged; publish flips at one CAS") {
    val (cat, root, store) = fixture()
    land(root)
    auditWrite(root, "batch-1", 10000, 200)

    // invisible: SQL, functional read, COUNT pushdown, listing
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev").head.getLong(0) == 500L)
    assert(LakeReader.read(spark, root, "ev").count() == 500L)
    assert(LakeReader.listTableKeys(store, "ev", None)
      .forall(k => !k.startsWith("2024/07/01/09/")))
    // ...but physically landed (final keys, behind the intent)
    assert(LakeVersions.readIntent(store, "ev", "audit-batch-1")
      .exists(_.nonEmpty))

    // the validation read sees live ∪ staged, exactly
    val branch = spark.read.format("graft-lake").option("table", "ev")
      .option("withAudit", "batch-1").load(root)
    assert(branch.count() == 700L)
    assert(branch.where(col("tag") === "staged").count() == 200L)
    // an unknown audit id is loud
    val e = intercept[Exception] {
      spark.read.format("graft-lake").option("table", "ev")
        .option("withAudit", "nope").load(root).count()
    }
    assert(e.getMessage.contains("no staged audit") ||
      Option(e.getCause).exists(_.getMessage.contains("no staged audit")))

    // publish: one CAS, rows visible, intent gone, generation records
    // the batch as `inserted`
    val rep = spark.sql(s"CALL $cat.system.publish_audit(table => 'ev', " +
      "audit_id => 'batch-1')").collect()
    assert(rep.head.getInt(1) == 1, s"one staged object, got ${rep.toSeq}")
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev").head.getLong(0) == 700L)
    assert(LakeReader.read(spark, root, "ev").count() == 700L)
    assert(LakeVersions.readIntent(store, "ev", "audit-batch-1").isEmpty)
    val rec = LakeVersions.head(store, "ev",
      LakeVersions.listDir(store, "ev")).get
    assert(rec.op == "publish_audit" && rec.inserted.nonEmpty &&
      rec.removed.isEmpty)
    // publishing twice is loud
    assert(intercept[Exception] {
      spark.sql(s"CALL $cat.system.publish_audit(table => 'ev', " +
        "audit_id => 'batch-1')").collect()
    }.getMessage.contains("no staged audit"))
  }

  test("abort_audit drops the staged batch untraced; a second write under a live audit id refuses; audit + overwrite refuses") {
    val (cat, root, store) = fixture()
    land(root)
    auditWrite(root, "bad-batch", 20000, 100)
    // one audit = one write
    assert(intercept[Exception] {
      auditWrite(root, "bad-batch", 30000, 50)
    }.getMessage.contains("already holds a staged batch"))
    // withAudit composes with neither streams nor time travel — loud,
    // never a silent live-only read
    locally {
      val qr = spark.readStream.format("graft-lake").option("table", "ev")
        .option("withAudit", "bad-batch").load(root)
        .writeStream.format("memory").queryName("wap_refuse")
        .option("checkpointLocation",
          tempDir("graft-wap-rc").toFile.getAbsolutePath)
        .start()
      try {
        val se = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          qr.processAllAvailable()
        }
        assert(Iterator.iterate(se: Throwable)(_.getCause).takeWhile(_ != null)
          .exists(t => Option(t.getMessage).exists(_.contains("withAudit"))),
          s"the audit-branch stream must refuse loudly, got $se")
      } finally qr.stop()
    }
    assert(intercept[Exception] {
      spark.read.format("graft-lake").option("table", "ev")
        .option("withAudit", "bad-batch").option("asOfGeneration", "1")
        .load(root).count()
    }.getMessage.contains("contradictory"))
    // audit + overwrite refuses
    import spark.implicits._
    val e = intercept[Exception] {
      Seq((1L, "x", 1.0)).toDF("id", "tag", "v")
        .withColumn("_event_hour",
          lit(java.sql.Timestamp.from(Instant.parse("2024-07-01T09:00:00Z"))))
        .write.format("graft-lake").option("table", "ev")
        .option("auditId", "ow").mode("overwrite").save(root)
    }
    assert(e.getMessage.contains("write-audit-publish covers APPENDS"))

    val staged = LakeVersions.readIntent(store, "ev", "audit-bad-batch").get
    spark.sql(s"CALL $cat.system.abort_audit(table => 'ev', " +
      "audit_id => 'bad-batch')").collect()
    staged.foreach(k => assert(!store.exists(k), s"$k must be gone"))
    assert(LakeVersions.readIntent(store, "ev", "audit-bad-batch").isEmpty)
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev").head.getLong(0) == 500L)
    // the table never became versioned over a write that never happened
    assert(LakeVersions.listDir(store, "ev").gens.isEmpty)
  }

  test("the staging janitor never sweeps a pending audit, however old; a stream delivers the batch exactly once, starting at publish") {
    val (cat, root, store) = fixture()
    land(root)
    auditWrite(root, "slow-audit", 40000, 120)
    // an aggressive sweep (cutoff in the future = everything is 'old')
    LakeMaintenance.sweepStaging(store, Instant.now().plusSeconds(3600))
    assert(LakeVersions.readIntent(store, "ev", "audit-slow-audit")
      .exists(_.nonEmpty), "a pending audit must survive the janitor")
    // ...and ensure_indexes' orphan sweep must not de-index the hidden
    // batch (its keys are intent-named, not orphans)
    LakeMaintenance.ensureIndexes(spark, store, "ev")
    LakeVersions.readIntent(store, "ev", "audit-slow-audit").get.foreach { k =>
      assert(store.exists(k), s"staged $k must survive")
      assert(ZoneMaps.read(store, k).nonEmpty,
        s"staged $k's sidecar must survive the orphan sweep")
    }

    val ckpt = tempDir("graft-wap-ckpt").toFile.getAbsolutePath
    val q = spark.readStream.format("graft-lake").option("table", "ev")
      .load(root)
      .writeStream.format("memory").queryName("wap_stream")
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      assert(spark.table("wap_stream").count() == 500L,
        "the hidden batch must not reach the stream")
      spark.sql(s"CALL $cat.system.publish_audit(table => 'ev', " +
        "audit_id => 'slow-audit')").collect()
      q.processAllAvailable()
      assert(spark.table("wap_stream").count() == 620L,
        "the published batch must deliver exactly once")
      assert(spark.table("wap_stream").where(col("id") >= 40000).count() == 120L)
    } finally q.stop()
  }

  test("WAP-branch DML (spark.graft.wap.branch): DELETE/UPDATE scrub the staged batch; live data and the chain untouched; publish is one CAS; a bad branch aborts untraced") {
    val (cat, root, store) = fixture()
    land(root) // 500 live rows
    auditWrite(root, "fix-me", 10000, 200) // staged ids 10000..10199
    val gensBefore = LakeVersions.listDir(store, "ev").gens
    spark.conf.set("spark.graft.wap.branch", "fix-me")
    try {
      // branch reads = live ∪ staged
      assert(spark.table(s"$cat.ev").count() == 700L)
      // scrub: DELETE part of the batch — a probe-shaped predicate must
      // NOT take the metadata path under a branch
      spark.sql(s"DELETE FROM $cat.ev WHERE id >= 10100")
      assert(spark.table(s"$cat.ev").count() == 600L,
        "the branch view drops the scrubbed rows")
      // …and UPDATE another part
      spark.sql(s"UPDATE $cat.ev SET tag = 'fixed' WHERE id >= 10000 " +
        "AND id < 10050")
      assert(spark.table(s"$cat.ev").where(col("tag") === "fixed")
        .count() == 50L)
      // MERGE scrubs the staged batch too (r19 — the fix-shaped verb):
      // a matched-update against a BATCH row swaps inside the batch
      import spark.implicits._
      Seq(10060L).toDF("sid").createOrReplaceTempView("wap_branch_src")
      spark.sql(
        s"""MERGE INTO $cat.ev t USING wap_branch_src s ON t.id = s.sid
           |WHEN MATCHED THEN UPDATE SET tag = 'merged'""".stripMargin)
      assert(spark.table(s"$cat.ev").where(col("tag") === "merged")
        .count() == 1L)
    } finally spark.conf.unset("spark.graft.wap.branch")
    // outside the branch: live table untouched, NO generation minted
    // (the scrub was an intent swap, not a commit)
    assert(spark.table(s"$cat.ev").count() == 500L)
    assert(LakeVersions.listDir(store, "ev").gens == gensBefore,
      "branch DML must not touch the generation chain")
    // publish: ONE CAS lands the scrubbed batch; its record's inserted
    // set IS the final list (CDC delivers it exactly once from here,
    // the l38-pinned machinery)
    spark.sql(s"CALL $cat.system.publish_audit(table => 'ev', " +
      "audit_id => 'fix-me')").collect()
    assert(spark.table(s"$cat.ev").count() == 600L)
    assert(spark.table(s"$cat.ev").where(col("tag") === "fixed").count() == 50L)
    assert(spark.table(s"$cat.ev").where(col("id") >= 10100).count() == 0L)
    val head = LakeVersions.head(store, "ev",
      LakeVersions.listDir(store, "ev")).get
    assert(head.op == "publish_audit" && head.inserted.nonEmpty,
      s"the publish record carries the scrubbed batch: $head")
    // a BAD branch: stage, scrub, then abort — untraced
    auditWrite(root, "bad-branch", 20000, 100)
    spark.conf.set("spark.graft.wap.branch", "bad-branch")
    try spark.sql(s"DELETE FROM $cat.ev WHERE id >= 20050")
    finally spark.conf.unset("spark.graft.wap.branch")
    spark.sql(s"CALL $cat.system.abort_audit(table => 'ev', " +
      "audit_id => 'bad-branch')").collect()
    assert(spark.table(s"$cat.ev").count() == 600L,
      "an aborted scrubbed branch leaves no trace")
    assert(spark.table(s"$cat.ev").where(col("id") >= 20000).count() == 0L)
  }

  test("BRANCH MERGE, all four arms: matched UPDATE/DELETE patch the branch view across lineages, NOT-MATCHED inserts take BATCH lineage; plain readers isolated; publish is one CAS with the exact CDC split; the stream delivers batch+inserts once, never live rewrites") {
    val (cat, root, store) = fixture()
    land(root) // ids 0..499 as two 250-row objects (hour 08)
    val ckpt = tempDir("graft-wap-bm-ckpt").toFile.getAbsolutePath
    val got = new scala.collection.mutable.ArrayBuffer[Long]
    val q = spark.readStream.format("graft-lake").option("table", "ev")
      .load(root).writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val ids = df.select("id").collect().map(_.getLong(0))
        got.synchronized { got ++= ids }; ()
      }.start()
    q.processAllAvailable()
    assert(got.size == 500, "initial drain")
    auditWrite(root, "bm", 10000, 100) // staged ids 10000..10099 (hour 09)
    val gensBefore = LakeVersions.listDir(store, "ev").gens
    import spark.implicits._
    // one source row per arm shape: matched-update and matched-delete
    // against BOTH lineages (live 50/60, batch 10010/10020), plus two
    // genuinely new ids for the NOT-MATCHED insert arm
    Seq((50L, "u"), (60L, "d"), (10010L, "u"), (10020L, "d"),
        (30000L, "i"), (30001L, "i"))
      .toDF("sid", "act").createOrReplaceTempView("wap_bm_src")
    spark.conf.set("spark.graft.wap.branch", "bm")
    try {
      assert(spark.table(s"$cat.ev").count() == 600L)
      spark.sql(
        s"""MERGE INTO $cat.ev t USING wap_bm_src s ON t.id = s.sid
           |WHEN MATCHED AND s.act = 'u' THEN UPDATE SET tag = 'merged'
           |WHEN MATCHED AND s.act = 'd' THEN DELETE
           |WHEN NOT MATCHED THEN
           |  INSERT (id, tag, v, _event_hour)
           |  VALUES (s.sid, 'ins', 1.0,
           |          TIMESTAMP '2024-07-01 09:00:00+00:00')
           |WHEN NOT MATCHED BY SOURCE AND t.id = 70 THEN
           |  UPDATE SET tag = 'nmbs'
           |""".stripMargin)
      val bv = spark.table(s"$cat.ev")
      assert(bv.count() == 600L, // -2 deletes +2 inserts
        "the branch view reflects all four arms")
      assert(bv.where(col("tag") === "merged").count() == 2L,
        "matched-update hit one live and one batch row")
      assert(bv.where(col("id").isin(60L, 10020L)).count() == 0L,
        "matched-delete killed one live and one batch row")
      assert(bv.where(col("tag") === "ins").count() == 2L &&
        bv.where(col("id") >= 30000L).count() == 2L,
        "NOT-MATCHED inserted both new rows into the branch view")
      assert(bv.where(col("tag") === "nmbs").count() == 1L,
        "NOT MATCHED BY SOURCE updated exactly id 70")
    } finally spark.conf.unset("spark.graft.wap.branch")
    // plain readers: COMPLETELY isolated — live untouched, no
    // generation minted, nothing delivered to the stream
    val plain = LakeReader.read(spark, root, "ev")
    assert(plain.count() == 500L)
    assert(plain.where(col("tag").isin("merged", "nmbs", "ins"))
      .count() == 0L, "no branch mutation leaks to plain readers")
    assert(LakeVersions.listDir(store, "ev").gens == gensBefore,
      "branch MERGE must not touch the generation chain")
    q.processAllAvailable()
    assert(got.size == 500, "branch MERGE must deliver nothing")
    // the intent's v2 state: ONE live object replaced (ids 50/60/70 all
    // live in the first 250-row object), inserts joined the BATCH set
    val (_, brSt) = LakeVersions.readIntentFull(store, "ev", "audit-bm").get
    assert(brSt.exists(_.removed.size == 1),
      s"one rewritten live object recorded replaced: $brSt")
    assert(brSt.exists(_.batch.size > 1),
      s"the insert objects took batch lineage: $brSt")
    // publish: ONE CAS — removals validated, live rewrites `added`
    // (CDC-skippable), batch + inserts `inserted` (CDC-delivered)
    spark.sql(s"CALL $cat.system.publish_audit(table => 'ev', " +
      "audit_id => 'bm')").collect()
    val t = spark.table(s"$cat.ev")
    assert(t.count() == 600L)
    assert(t.where(col("tag") === "merged").count() == 2L)
    assert(t.where(col("tag") === "nmbs").count() == 1L)
    assert(t.where(col("tag") === "ins").count() == 2L)
    assert(t.where(col("id").isin(60L, 10020L)).count() == 0L)
    val head = LakeVersions.head(store, "ev",
      LakeVersions.listDir(store, "ev")).get
    assert(head.op == "publish_audit" && head.removed.size == 1 &&
      head.added.nonEmpty && head.inserted.nonEmpty,
      s"the publish record must carry the exact CDC split: $head")
    // the stream: the surviving batch (99 rows) + the merged inserts
    // (2), never the live rewrites (their provenance was delivered)
    q.processAllAvailable()
    q.stop()
    val want = ((0L until 500L) ++
      (10000L until 10100L).filterNot(_ == 10020L) ++
      Seq(30000L, 30001L)).sorted
    assert(got.sorted == want,
      s"publish delivers batch+inserts once, skips live rewrites: " +
        s"got ${got.size} rows")
  }

  test("CROSS-BRANCH DML mutates LIVE rows in the branch view only; publish lands batch + live rewrites + removals at ONE CAS; a stream delivers the batch once and never the rewrites") {
    val (cat, root, store) = fixture()
    land(root) // ids 0..499 as two 250-row objects
    // a stream watches throughout: branch work must deliver NOTHING,
    // the publish exactly the batch (live rewrites are CDC-skippable)
    val ckpt = tempDir("graft-wap-xb-ckpt").toFile.getAbsolutePath
    val got = new scala.collection.mutable.ArrayBuffer[Long]
    val q = spark.readStream.format("graft-lake").option("table", "ev")
      .load(root).writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val ids = df.select("id").collect().map(_.getLong(0))
        got.synchronized { got ++= ids }; ()
      }.start()
    q.processAllAvailable()
    assert(got.size == 500, "initial drain")
    auditWrite(root, "xb", 10000, 100)
    val gensBefore = LakeVersions.listDir(store, "ev").gens
    spark.conf.set("spark.graft.wap.branch", "xb")
    try {
      assert(spark.table(s"$cat.ev").count() == 600L)
      // live rows ARE in the branch scope now (the full Iceberg
      // wap.branch semantics): kill 100 live rows, update 10 more
      spark.sql(s"DELETE FROM $cat.ev WHERE id < 100")
      assert(spark.table(s"$cat.ev").count() == 500L,
        "the branch view drops the deleted LIVE rows")
      spark.sql(s"UPDATE $cat.ev SET tag = 'xb' WHERE id >= 300 AND id < 310")
      assert(spark.table(s"$cat.ev").where(col("tag") === "xb").count() == 10L)
      // …and a batch scrub in the same branch still works
      spark.sql(s"DELETE FROM $cat.ev WHERE id >= 10090")
      assert(spark.table(s"$cat.ev").count() == 490L)
    } finally spark.conf.unset("spark.graft.wap.branch")
    // plain readers: COMPLETELY untouched — the replaced live originals
    // are still what they see; no generation minted; nothing delivered
    assert(LakeReader.read(spark, root, "ev").count() == 500L)
    assert(LakeReader.read(spark, root, "ev")
      .where(col("tag") === "xb").count() == 0L)
    assert(LakeVersions.listDir(store, "ev").gens == gensBefore,
      "branch DML must not touch the generation chain")
    q.processAllAvailable()
    assert(got.size == 500, "branch work must deliver nothing")
    // the intent carries the v2 branch state: both live objects
    // replaced, replacements hidden
    val (_, brSt) = LakeVersions.readIntentFull(store, "ev", "audit-xb").get
    assert(brSt.exists(_.removed.size == 2),
      s"both rewritten live objects must be recorded: $brSt")
    assert(brSt.exists(_.repl.nonEmpty) && brSt.exists(_.batch.nonEmpty))
    // publish: ONE CAS — removals validated, rewrites `added`, batch
    // `inserted`
    spark.sql(s"CALL $cat.system.publish_audit(table => 'ev', " +
      "audit_id => 'xb')").collect()
    val t = spark.table(s"$cat.ev")
    assert(t.count() == 490L)
    assert(t.where(col("id") < 100).count() == 0L)
    assert(t.where(col("tag") === "xb").count() == 10L)
    assert(t.where(col("id") >= 10000).count() == 90L)
    val head = LakeVersions.head(store, "ev",
      LakeVersions.listDir(store, "ev")).get
    assert(head.op == "publish_audit" && head.removed.size == 2 &&
      head.added.nonEmpty && head.inserted.nonEmpty,
      s"the publish record must carry the exact CDC split: $head")
    // the stream: exactly the batch (90 surviving staged rows), never
    // the live rewrites (their provenance was delivered)
    q.processAllAvailable()
    q.stop()
    assert(got.sorted == ((0L until 500L) ++ (10000L until 10090L)).sorted,
      s"publish must deliver the batch once and skip live rewrites: " +
        s"${got.size} rows")
  }

  test("a concurrent mutation of a replaced live object ABORTS the publish loudly; the branch stays staged; abort_audit leaves live untouched") {
    val (cat, root, store) = fixture()
    land(root)
    auditWrite(root, "stale", 20000, 50)
    spark.conf.set("spark.graft.wap.branch", "stale")
    try spark.sql(s"DELETE FROM $cat.ev WHERE id < 100") // replaces object 0
    finally spark.conf.unset("spark.graft.wap.branch")
    // a concurrent writer rewrites the SAME live object outside the
    // branch (id 200 lives in object 0) — the branch is now stale
    spark.sql(s"UPDATE $cat.ev SET v = 0.0 WHERE id = 200")
    val e = intercept[Exception] {
      spark.sql(s"CALL $cat.system.publish_audit(table => 'ev', " +
        "audit_id => 'stale')").collect()
    }
    assert(chainMsg(e).toLowerCase.contains("concurrent"), chainMsg(e))
    // nothing published: the live table shows only the outside UPDATE
    val t = spark.table(s"$cat.ev")
    assert(t.count() == 500L && t.where(col("id") >= 20000).count() == 0L)
    assert(t.where(col("id") === 200 && col("v") === 0.0).count() == 1L)
    // the staged state survived the failed publish — abort discards it
    // without touching live data
    assert(LakeVersions.readIntentFull(store, "ev", "audit-stale").isDefined)
    spark.sql(s"CALL $cat.system.abort_audit(table => 'ev', " +
      "audit_id => 'stale')").collect()
    assert(spark.table(s"$cat.ev").count() == 500L)
    assert(store.list(LakeVersions.dir("ev"))
      .count(_.contains("intent")) == 0, "the audit intent is gone")
  }

  private def chainMsg(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")

  test("audit × manifest: a seal that captured a pending batch's hidden keys is invalidated on abort (and, conservatively, on publish)") {
    val (cat, root, store) = fixture()
    // a past flushTime places the audit's keys in a SEALABLE hour —
    // the backfill-audit shape where the seal/audit interaction bites
    def auditPast(id: String, lo: Int): Unit = {
      import spark.implicits._
      (lo until lo + 100).map(i => (i.toLong, "staged", i * 1.0))
        .toDF("id", "tag", "v")
        .withColumn("_event_hour",
          lit(java.sql.Timestamp.from(Instant.parse("2024-07-01T09:00:00Z"))))
        .coalesce(1)
        .write.format("graft-lake").option("table", "ev")
        .option("flushTime", "2024-07-01T09:00:00Z")
        .option("auditId", id).mode("append").save(root)
    }
    land(root) // hour 08
    // the STAGE itself invalidates a covering manifest (the ordinary
    // write-side guard — staged keys are hidden but physically present,
    // and seal lists raw keys)
    Manifests.seal(store, "ev", Instant.parse("2024-07-01T10:00:00Z"))
    assert(Manifests.readHeader(store, "ev").isDefined)
    auditPast("m-1", 10000)
    assert(Manifests.readHeader(store, "ev").isEmpty,
      "staging into a sealed hour must invalidate at write time")
    // seal WHILE the audit pends: the raw listing CAPTURES the hidden
    // keys — after abort such a manifest names deleted keys and strict
    // manifest-fed maintenance reads would fail until rebuilt. This is
    // the r16 advice race, closed in abort_audit.
    Manifests.seal(store, "ev", Instant.parse("2024-07-01T10:00:00Z"))
    assert(Manifests.readHeader(store, "ev").isDefined)
    spark.sql(s"CALL $cat.system.abort_audit(table => 'ev', " +
      "audit_id => 'm-1')").collect()
    assert(Manifests.readHeader(store, "ev").isEmpty,
      "abort_audit must invalidate the manifest naming the dropped keys")
    assert(LakeReader.read(spark, root, "ev").count() == 500L)
    // publish under a pending-window seal: the manifest holds the keys
    // already, but a seal whose listing raced the stage renames could
    // hold only PART of them — publish invalidates conservatively (an
    // advisory accelerator is cheap to rebuild, a silent partial read
    // is not)
    auditPast("m-2", 20000)
    Manifests.seal(store, "ev", Instant.parse("2024-07-01T10:00:00Z"))
    assert(Manifests.readHeader(store, "ev").isDefined)
    spark.sql(s"CALL $cat.system.publish_audit(table => 'ev', " +
      "audit_id => 'm-2')").collect()
    assert(Manifests.readHeader(store, "ev").isEmpty,
      "publish_audit must invalidate the pending-window manifest")
    assert(LakeReader.read(spark, root, "ev").count() == 600L,
      "the published rows must be visible to the (re-walked) read")
    // maintenance over the formerly-sealed hours runs clean (no dead
    // keys fed from a stale manifest)
    val rep = LakeMaintenance.compact(spark, store, "ev",
      Some((Instant.parse("2024-07-01T00:00:00Z"),
        Instant.parse("2024-07-01T23:00:00Z"))))
    assert(LakeReader.read(spark, root, "ev").count() == 600L,
      s"compaction after the audit churn stays row-exact ($rep)")
  }
}
