package graft.lake

import graft.SparkSuite
import graft.types.{ColType, TableSchema}

import java.time.Instant

import org.apache.spark.sql.functions._

/** [[LakeTxn]] — cross-table atomic commits over the per-table
  * generation chain: each participating table CAS-publishes a PENDING
  * (txn-marked, invisible) record, and one create-exclusive decision
  * file flips them all visible. Readers can never observe table A's
  * half without table B's; a broken attempt leaves the staged batches
  * intact for retry. */
class LakeTxnSpec extends SparkSuite {

  private def schemaOf(t: String) = TableSchema(t, Seq(
    "id" -> ColType.CInteger, "vc" -> ColType.CInteger))

  private def fixture(): (String, String, HadoopStore) = {
    val root = tempUri("graft-txn-spec")
    val cat = s"txn${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root, new HadoopStore(root))
  }

  /** Land `n` base rows into table `t` (ids 0..n-1, vc = id). */
  private def land(root: String, t: String, n: Int): Unit = {
    import spark.implicits._
    LakeWriter.write(
      (0 until n).map(i => (i.toLong, i.toLong)).toDF("id", "vc")
        .orderBy("id").coalesce(1),
      schemaOf(t), root, Instant.parse("2024-07-01T08:00:00Z"))
    ()
  }

  /** Stage an audited batch of `n` rows (ids from `lo`, vc = `vc`) on
    * table `t` — final keys behind the `audit-<id>` intent, invisible. */
  private def stage(root: String, t: String, id: String, lo: Long, n: Int,
                    vc: Long): Unit = {
    val hot = java.sql.Timestamp.from(Instant.parse("2024-07-01T09:00:00Z"))
    spark.range(n).select((lit(lo) + col("id")).as("id"), lit(vc).as("vc"),
        lit(hot).as("_event_hour"))
      .coalesce(1)
      .write.format("graft-lake").option("table", t)
      .option("auditId", id).mode("append").save(root)
  }

  private def count(root: String, t: String): Long =
    LakeReader.read(spark, root, t).count()

  test("two-table atomic publish: both batches invisible while every pending record exists, both visible after ONE decision, per-table generations minted") {
    val (cat, root, store) = fixture()
    land(root, "ta", 100); land(root, "tb", 50)
    stage(root, "ta", "batch1", 1000L, 10, 7L)
    stage(root, "tb", "batch1", 2000L, 20, 9L)
    assert(count(root, "ta") == 100 && count(root, "tb") == 50,
      "staged batches must be invisible before the transaction")
    // at the brink of the decision every part's pending record is
    // CAS-published — and still NOTHING is visible on either table
    var atBrink = (-1L, -1L)
    var pendingGens = (Seq.empty[Long], Seq.empty[Long])
    LakeTxn.beforeDecideHook = () => {
      atBrink = (count(root, "ta"), count(root, "tb"))
      pendingGens = (LakeVersions.listDir(store, "ta").gens,
        LakeVersions.listDir(store, "tb").gens)
    }
    try
      spark.sql(s"CALL $cat.system.commit_transaction(" +
        "tables => 'ta,tb', audit_id => 'batch1')").collect()
    finally LakeTxn.beforeDecideHook = () => ()
    assert(atBrink == ((100L, 50L)),
      s"pending records must stay invisible: saw $atBrink")
    assert(pendingGens._1.nonEmpty && pendingGens._2.nonEmpty,
      "both tables' pending records must exist at the brink")
    assert(count(root, "ta") == 110 && count(root, "tb") == 70,
      "both batches must be visible after the one decision")
    // the generations are real: heads carry the txn op and the keys
    val ha = LakeVersions.head(store, "ta", LakeVersions.listDir(store, "ta")).get
    val hb = LakeVersions.head(store, "tb", LakeVersions.listDir(store, "tb")).get
    assert(ha.op == "txn_publish" && hb.op == "txn_publish")
    assert(ha.txn.isDefined && ha.txn == hb.txn,
      "both halves must reference the same transaction")
    assert(ha.inserted.size == 1 && hb.inserted.size == 1)
    // intents are cleaned up; the decision file records the commit
    assert(LakeVersions.listDir(store, "ta").intents.isEmpty &&
      LakeVersions.listDir(store, "tb").intents.isEmpty)
    assert(LakeTxn.committed(store, ha.txn.get))
  }

  test("a part failing its CAS aborts the WHOLE transaction: no table sees anything, staged batches survive, the retry publishes both") {
    val (cat, root, store) = fixture()
    land(root, "tc", 100); land(root, "td", 50)
    stage(root, "tc", "b2", 1000L, 10, 7L)
    stage(root, "td", "b2", 2000L, 20, 9L)
    val gensBefore = (LakeVersions.listDir(store, "tc").gens,
      LakeVersions.listDir(store, "td").gens)
    // first table's part CASes fine; the second table's CAS blows up
    // (stand-in for validation aborts: a racing writer tombstoned the
    // scanned scope, the dv basis drifted, ...)
    LakeVersions.beforeCasHook = t =>
      if (t == "td") sys.error("injected: td's CAS failed")
    val e = intercept[RuntimeException] {
      try
        spark.sql(s"CALL $cat.system.commit_transaction(" +
          "tables => 'tc,td', audit_id => 'b2')").collect()
      finally LakeVersions.beforeCasHook = _ => ()
    }
    assert(chainMsg(e).contains("injected"), chainMsg(e))
    assert(count(root, "tc") == 100 && count(root, "td") == 50,
      "no table may see any half of an aborted transaction")
    assert(LakeVersions.listDir(store, "tc").gens == gensBefore._1 &&
      LakeVersions.listDir(store, "td").gens == gensBefore._2,
      "aborted pending records must be reclaimed")
    // the staged batches survived the abort — the same CALL again
    // (fault cleared) publishes both atomically
    spark.sql(s"CALL $cat.system.commit_transaction(" +
      "tables => 'tc,td', audit_id => 'b2')").collect()
    assert(count(root, "tc") == 110 && count(root, "td") == 70)
  }

  test("a STALLED coordinator is broken by the next writer: pending record aborted + reclaimed, the writer proceeds, the late coordinator's commit decision loses") {
    val (_, root, store) = fixture()
    land(root, "te", 100)
    stage(root, "te", "b3", 1000L, 10, 7L)
    val keys = LakeVersions.readIntent(store, "te", "audit-b3").get
    val txnId = java.util.UUID.randomUUID().toString
    // the coordinator CASes te's pending record... then crashes (no
    // decision, no cleanup)
    val pending = LakeVersions.commit(store, "te", op = "txn_publish",
      removed = Nil, inserted = keys, intentId = Some("audit-b3"),
      txn = Some(txnId))
    assert(count(root, "te") == 100,
      "a pending transaction's batch must be invisible")
    assert(LakeVersions.head(store, "te",
      LakeVersions.listDir(store, "te")).forall(_.gen < pending.gen),
      "head selection must fall through a pending record to its parent")
    // time travel cannot address the pending generation either
    intercept[IllegalArgumentException] {
      LakeVersions.dvsAt(store, "te", pending.gen)
    }
    val was = LakeTxn.breakAfterMs
    LakeTxn.breakAfterMs = 100L
    try {
      Thread.sleep(150L)
      // an ordinary writer lands on te: it must BREAK the stalled
      // transaction and take the slot
      val rec = LakeVersions.commit(store, "te", op = "test",
        removed = Nil, validateLive = false)
      assert(rec.gen == pending.gen,
        s"the breaker must reclaim the pending slot (got gen ${rec.gen})")
      assert(LakeTxn.decision(store, txnId).contains(LakeTxn.Aborted))
    } finally LakeTxn.breakAfterMs = was
    // the late coordinator wakes up: its committed decision LOSES and
    // the batch stays invisible — still staged, still retryable
    assert(LakeTxn.decide(store, txnId, LakeTxn.Committed) == LakeTxn.Aborted)
    assert(count(root, "te") == 100)
    assert(LakeVersions.listDir(store, "te").intents == Seq("audit-b3"),
      "the staged batch must survive the break for a retry")
  }

  test("replace => true: an atomic cross-table INSERT OVERWRITE — both tables flip to exactly their staged batches, replaced objects retire") {
    val (cat, root, store) = fixture()
    land(root, "tf", 100); land(root, "tg", 50)
    stage(root, "tf", "b4", 1000L, 10, 7L)
    stage(root, "tg", "b4", 2000L, 20, 9L)
    val rows = spark.sql(s"CALL $cat.system.commit_transaction(" +
      "tables => 'tf,tg', audit_id => 'b4', replace => true)").collect()
    assert(rows.map(r => (r.getString(0), r.getInt(3))).toSet ==
      Set(("tf", 1), ("tg", 1)), "each part replaced its one base object")
    val fa = LakeReader.read(spark, root, "tf")
    val ga = LakeReader.read(spark, root, "tg")
    assert(fa.count() == 10 && ga.count() == 20)
    assert(fa.agg(min("id"), max("id")).collect().head.toSeq ==
      Seq(1000L, 1009L))
    assert(ga.agg(sum("vc")).collect().head.getLong(0) == 180L)
    // the replaced originals physically retired (unretained table)
    val ha = LakeVersions.head(store, "tf", LakeVersions.listDir(store, "tf")).get
    assert(ha.op == "txn_overwrite" && ha.removed.size == 1)
    assert(!store.exists(ha.removed.head),
      "the replaced base object must be physically retired")
  }

  test("TRANSACTIONAL SCRUBBED PUBLISH: branch DML (live rows included) on one table composes with commit_transaction — both tables flip atomically with the scrub's exact CDC split") {
    val (cat, root, store) = fixture()
    land(root, "th", 100); land(root, "ti", 50)
    stage(root, "th", "b5", 1000L, 20, 7L)
    stage(root, "ti", "b5", 2000L, 10, 9L)
    // scrub table th under the branch: drop half the batch AND fix a
    // LIVE row (id 3 gets vc bumped) — the cross-branch workflow
    spark.conf.set("spark.graft.wap.branch", "b5")
    try {
      spark.sql(s"DELETE FROM $cat.th WHERE id >= 1010")
      spark.sql(s"UPDATE $cat.th SET vc = 777 WHERE id = 3")
      // and a branch MERGE (r19): a matched live fix + a NOT-MATCHED
      // insert whose object takes BATCH lineage — the transaction must
      // publish it in the same flip
      import spark.implicits._
      Seq((5L, "u"), (99999L, "i")).toDF("sid", "act")
        .createOrReplaceTempView("txn_bm_src")
      spark.sql(
        s"""MERGE INTO $cat.th t USING txn_bm_src s ON t.id = s.sid
           |WHEN MATCHED THEN UPDATE SET vc = 555
           |WHEN NOT MATCHED THEN INSERT (id, vc, _event_hour)
           |  VALUES (s.sid, 11, TIMESTAMP '2024-07-01 09:00:00+00:00')
           |""".stripMargin)
    } finally spark.conf.unset("spark.graft.wap.branch")
    // plain readers: untouched on both tables
    assert(count(root, "th") == 100 && count(root, "ti") == 50)
    assert(LakeReader.read(spark, root, "th")
      .where(col("id") === 3L && col("vc") === 777L).count() == 0L)
    // the audit on th carries branch state (a replaced live object)
    val (_, brSt) = LakeVersions.readIntentFull(store, "th", "audit-b5").get
    assert(brSt.exists(_.removed.nonEmpty), s"branch state expected: $brSt")
    // replace + branch state refuses loudly (two removed scopes)
    val e = intercept[Exception] {
      spark.sql(s"CALL $cat.system.commit_transaction(" +
        "tables => 'th,ti', audit_id => 'b5', replace => true)").collect()
    }
    assert(chainMsg(e).contains("branch DML"), chainMsg(e))
    // the transactional publish: ONE decision flips the scrubbed batch
    // + live fix on th AND the plain batch on ti
    spark.sql(s"CALL $cat.system.commit_transaction(" +
      "tables => 'th,ti', audit_id => 'b5')").collect()
    val th = LakeReader.read(spark, root, "th")
    assert(th.count() == 111) // 100 live + 10 surviving batch + 1 insert
    assert(th.where(col("id") === 3L && col("vc") === 777L).count() == 1L,
      "the live fix must land with the publish")
    assert(th.where(col("id") === 5L && col("vc") === 555L).count() == 1L,
      "the branch MERGE's matched arm must land with the publish")
    assert(th.where(col("id") === 99999L && col("vc") === 11L).count() == 1L,
      "the branch MERGE's insert must ride the batch lineage to publish")
    assert(th.where(col("id") >= 1010L && col("id") < 99999L).count() == 0L)
    assert(count(root, "ti") == 60)
    // the CDC split on th's record: removed = the replaced live object,
    // added = its rewrite, inserted = the surviving batch
    val h = LakeVersions.head(store, "th", LakeVersions.listDir(store, "th")).get
    assert(h.txn.isDefined && h.removed.nonEmpty && h.added.nonEmpty &&
      h.inserted.nonEmpty, s"exact CDC split expected: $h")
    assert(!store.exists(h.removed.head),
      "the replaced live original must retire after the publish")
  }

  test("janitor reclaims unreachable decisions: referenced ones survive every sweep, expired ones drop, an ABORTED decision lives exactly while a pending record still names it") {
    val (cat, root, store) = fixture()
    land(root, "ta", 20); land(root, "tb", 10)
    var lastTxn: Option[String] = None
    (1 to 3).foreach { i =>
      stage(root, "ta", s"b$i", 10000L * i, 5, i.toLong)
      stage(root, "tb", s"b$i", 20000L * i, 5, i.toLong)
      spark.sql(s"CALL $cat.system.commit_transaction(" +
        s"tables => 'ta,tb', audit_id => 'b$i')").collect()
      lastTxn = LakeVersions.head(store, "ta",
        LakeVersions.listDir(store, "ta")).flatMap(_.txn)
    }
    def decisions = store.list(LakeTxn.Prefix.stripSuffix("/")).toSet
    assert(decisions.size == 3)
    val future = java.time.Instant.now().plusSeconds(3600)
    LakeMaintenance.sweepStaging(store, future)
    assert(decisions.size == 3,
      "decisions referenced by chain records must survive the sweep")
    // expire the history holding txn 1 and 2's records on BOTH tables —
    // the records referencing the last transaction stay (keep_last=1
    // keeps the head, which IS txn 3's record at expire time)
    Seq("ta", "tb").foreach { t =>
      spark.sql(s"CALL $cat.system.expire_versions(table => '$t', " +
        "keep_last => 1)").collect()
    }
    LakeMaintenance.sweepStaging(store, future)
    assert(decisions == Set(LakeTxn.decisionKey(lastTxn.get)),
      s"only the still-referenced decision survives: $decisions")
    assert(LakeTxn.committed(store, lastTxn.get),
      "the surviving decision still resolves")
    assert(count(root, "ta") == 35 && count(root, "tb") == 25,
      "reclamation must not move data")
    // an ABORTED decision is kept while a pending record still names
    // its transaction (a reader needs it to know the record is dead)...
    stage(root, "ta", "b9", 90000L, 5, 9L)
    val keys = LakeVersions.readIntent(store, "ta", "audit-b9").get
    val ghost = java.util.UUID.randomUUID().toString
    val pending = LakeVersions.commit(store, "ta", op = "txn_publish",
      removed = Nil, inserted = keys, intentId = Some("audit-b9"),
      txn = Some(ghost))
    assert(LakeTxn.decide(store, ghost, LakeTxn.Aborted) == LakeTxn.Aborted)
    LakeMaintenance.sweepStaging(store, future)
    assert(decisions.contains(LakeTxn.decisionKey(ghost)),
      "an aborted decision must survive while its pending record exists")
    // ...and sweeps once the slot is reclaimed (the next writer sees
    // the aborted decision and takes the generation) and the record
    // history referencing it expires
    val rec = LakeVersions.commit(store, "ta", op = "test",
      removed = Nil, validateLive = false)
    assert(rec.gen == pending.gen, "the writer must reclaim the slot")
    LakeMaintenance.sweepStaging(store, future)
    assert(!decisions.contains(LakeTxn.decisionKey(ghost)),
      "an aborted decision with no referencing record must sweep")
    assert(count(root, "ta") == 35,
      "the aborted batch stays invisible (still staged for retry)")
  }

  private def chainMsg(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
}
