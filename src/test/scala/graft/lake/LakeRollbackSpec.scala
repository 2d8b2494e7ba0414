package graft.lake

import graft.SparkSuite
import graft.types.{ColType, TableSchema}

import java.time.Instant
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** `CALL lake.system.rollback` ([[LakeVersions.rollbackTo]]) — the
  * bad-commit remedy (Delta `RESTORE` / Iceberg `rollback_to_snapshot`),
  * FORWARD-rolling: one new generation whose effective state (live keys
  * + delete-vector map + equality-delete list) equals a retained
  * target's. The suite pins: exact state equivalence with the
  * time-travel read across COW, vectored and equality-delete history;
  * pure-metadata cost (zero data-object churn); history preservation
  * (the undone range stays addressable, rollback of a rollback); the
  * tombstone-resurrection bookkeeping; loud refusals (no retention,
  * expired target); the CAS race (a concurrent commit aborts the
  * rollback, never silent dv/eqdel discard); changes-feed inversion;
  * and stream semantics (a ledger that delivered a resurrected key never
  * redelivers; a post-removal stream delivers it exactly once). */
class LakeRollbackSpec extends SparkSuite {

  private val schema = TableSchema("rt", Seq(
    "id" -> ColType.CInteger, "uid" -> ColType.CInteger,
    "vc" -> ColType.CInteger))

  private def fixture(): (String, String, HadoopStore) = {
    val root = tempUri("graft-rb-spec")
    val cat = s"rb${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root, new HadoopStore(root))
  }

  /** 500 rows in two 250-row objects at hour 08; uid = id % 50. */
  private def land(root: String, hour: String = "2024-07-01T08:00:00Z",
                   lo: Int = 0, n: Int = 500): Seq[String] = {
    import spark.implicits._
    LakeWriter.write(
      (lo until lo + n).map(i => (i.toLong, (i % 50).toLong, i.toLong))
        .toDF("id", "uid", "vc").orderBy("id").coalesce(1),
      schema, root, Instant.parse(hour), maxRecordsPerObject = 250L,
      zoneMaps = true, bloomColumns = Seq("uid")).map(_.key)
  }

  private def retainOn(cat: String): Unit = {
    spark.sql(s"CALL $cat.system.set_retention(table => 'rt', " +
      "retain => true)").collect(); ()
  }

  private def morOn(cat: String): Unit = {
    spark.sql(s"CALL $cat.system.set_dml_mode(table => 'rt', " +
      "mode => 'merge-on-read')").collect(); ()
  }

  private def snap(cat: String, gen: Long) =
    spark.sql(s"SELECT id, uid, vc FROM $cat.rt VERSION AS OF $gen")

  private def sameRows(a: org.apache.spark.sql.DataFrame,
                       b: org.apache.spark.sql.DataFrame): Unit = {
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
      "row sets must match exactly")
  }

  test("COW history: rollback ≡ the time-travel read, pure metadata, history preserved, rollback of the rollback") {
    val (cat, root, store) = fixture()
    val keys = land(root)
    retainOn(cat) // gen 1: retention baseline
    spark.sql(s"UPDATE $cat.rt SET vc = vc + 1000 WHERE id < 100") // gen 2
    spark.sql(s"DELETE FROM $cat.rt WHERE id >= 400")              // gen 3
    val dataBytes = store.list("").filter(k =>
      LakeKeys.parseKey(k).exists(_._2 == "rt")).sorted
    // dry_run reports the exact plan and mints NOTHING
    val dry = spark.sql(s"CALL $cat.system.rollback(table => 'rt', " +
      "version => '1', dry_run => true)").head
    assert(dry.getAs[Boolean]("noop") && dry.getAs[Int]("removed") > 0 &&
      dry.getAs[Int]("restored") > 0)
    assert(LakeVersions.listDir(store, "rt").gens.max == 3L,
      "dry_run must not commit")
    val rep = spark.sql(s"CALL $cat.system.rollback(table => 'rt', " +
      "version => '1')").head                                      // gen 4
    assert(rep.getAs[Long]("gen") == 4L && rep.getAs[Long]("target") == 1L)
    assert(rep.getAs[Int]("removed") == dry.getAs[Int]("removed") &&
      rep.getAs[Int]("restored") == dry.getAs[Int]("restored"),
      "the dry run's plan is the real run's plan")
    assert(!rep.getAs[Boolean]("noop"))
    // state ≡ VERSION AS OF 1, exactly
    sameRows(spark.table(s"$cat.rt").select("id", "uid", "vc"), snap(cat, 1))
    assert(spark.table(s"$cat.rt").count() == 500)
    assert(spark.table(s"$cat.rt").agg(sum("vc")).head.getLong(0) ==
      (0L until 500L).sum)
    // PURE METADATA: the data-object listing is bit-identical — rollback
    // moved no bytes, wrote no objects, resurrected by bookkeeping alone
    val after = store.list("").filter(k =>
      LakeKeys.parseKey(k).exists(_._2 == "rt")).sorted
    assert(after == dataBytes, "rollback must move zero data objects")
    // the ORIGINAL keys are the live set again (COW rewrites retired)
    assert(LakeReader.listTableKeys(store, "rt", None).toSet == keys.toSet)
    // no key is both live and tombstoned
    val head = LakeVersions.head(store, "rt",
      LakeVersions.listDir(store, "rt")).get
    assert(head.tombstones.toSet.intersect(keys.toSet).isEmpty,
      "resurrected keys must leave the tombstone set")
    // HISTORY PRESERVED: the undone range still reads
    assert(snap(cat, 3).count() == 400)
    assert(snap(cat, 2).where(col("id") < 100)
      .agg(sum("vc")).head.getLong(0) == (0L until 100L).sum + 100L * 1000L)
    // rollback of the rollback: back to gen 3's state
    val rep2 = spark.sql(s"CALL $cat.system.rollback(table => 'rt', " +
      "version => '3')").head
    assert(rep2.getAs[Long]("gen") == 5L && !rep2.getAs[Boolean]("noop"))
    sameRows(spark.table(s"$cat.rt").select("id", "uid", "vc"), snap(cat, 3))
    // rollback to the head generation is a no-op that mints nothing
    val rep3 = spark.sql(s"CALL $cat.system.rollback(table => 'rt', " +
      "version => '5')").head
    assert(rep3.getAs[Boolean]("noop"))
    assert(LakeVersions.listDir(store, "rt").gens.max == 5L)
  }

  test("merge-on-read history: rollback drops post-target vectors and equality deletes (rows resurrect), restores pre-target ones, and reads equal time travel on every path") {
    val (cat, root, store) = fixture()
    land(root)
    retainOn(cat)                                                  // gen 1
    morOn(cat)
    // gen 2: an EQUALITY delete (uid probe — one file, no rewrite)
    spark.sql(s"DELETE FROM $cat.rt WHERE uid = 7")
    // gen 3: a POSITION delete (range predicate → delete vector). One
    // row (id 103, uid 3) is already equality-invisible at scan time,
    // so the vector holds 19 positions, not 20
    spark.sql(s"DELETE FROM $cat.rt WHERE id >= 100 AND id < 120")
    assert(spark.table(s"$cat.rt").count() == 500 - 10 - 19)
    // roll back BEFORE both: all 500 rows resurrect, dv map and eq list
    // reset to empty
    val rep = spark.sql(s"CALL $cat.system.rollback(table => 'rt', " +
      "version => '1')").head
    assert(rep.getAs[Int]("dv_dropped") >= 1)
    assert(rep.getAs[Boolean]("eqdels_reset"))
    assert(spark.table(s"$cat.rt").count() == 500)
    sameRows(spark.table(s"$cat.rt").select("id", "uid", "vc"), snap(cat, 1))
    val h1 = LakeVersions.head(store, "rt",
      LakeVersions.listDir(store, "rt")).get
    assert(h1.dvs.isEmpty && h1.eqdels.isEmpty,
      s"chain state must reset: dvs=${h1.dvs.size} eqdels=${h1.eqdels.size}")
    // roll FORWARD to gen 2: the equality delete re-applies (its file
    // was retained), the vector stays gone
    spark.sql(s"CALL $cat.system.rollback(table => 'rt', version => '2')")
    assert(spark.table(s"$cat.rt").count() == 490)
    sameRows(spark.table(s"$cat.rt").select("id", "uid", "vc"), snap(cat, 2))
    val h2 = LakeVersions.head(store, "rt",
      LakeVersions.listDir(store, "rt")).get
    assert(h2.dvs.isEmpty && h2.eqdels.map(_.key) ==
      LakeVersions.eqdelsAt(store, "rt", 2L).map(_.key))
    // and to gen 3: the vector re-applies too
    spark.sql(s"CALL $cat.system.rollback(table => 'rt', version => '3')")
    assert(spark.table(s"$cat.rt").count() == 471)
    sameRows(spark.table(s"$cat.rt").select("id", "uid", "vc"), snap(cat, 3))
  }

  test("the changes feed across the rollback commit is the row-exact inverse of the rolled-back range") {
    val (cat, root, _) = fixture()
    land(root)
    retainOn(cat)                                                  // gen 1
    spark.sql(s"UPDATE $cat.rt SET vc = vc + 1000 WHERE id < 50")  // gen 2
    spark.sql(s"DELETE FROM $cat.rt WHERE id >= 450")              // gen 3
    spark.sql(s"CALL $cat.system.rollback(table => 'rt', " +
      "version => '1')")                                           // gen 4
    val forward = LakeChanges.between(spark, root, "rt", "1", "3")
      .select("id", "uid", "vc", "_change_type")
    val back = LakeChanges.between(spark, root, "rt", "3", "4")
      .select("id", "uid", "vc", "_change_type")
    val flipped = back.withColumn("_change_type",
      when(col("_change_type") === "insert", "delete").otherwise("insert"))
    sameRows(forward, flipped)
  }

  test("rollback resolves tags; refusals are loud: no retention names set_retention, an expired target names expire_versions") {
    val (cat, root, store) = fixture()
    land(root)
    // NO retention: the rollback refuses with the remedy (two commits —
    // rolling back to the HEAD would be a legitimate no-op)
    spark.sql(s"UPDATE $cat.rt SET vc = vc + 1 WHERE id < 10")     // gen 1
    spark.sql(s"UPDATE $cat.rt SET vc = vc + 1 WHERE id < 5")      // gen 2
    val e1 = intercept[Exception] {
      spark.sql(s"CALL $cat.system.rollback(table => 'rt', " +
        "version => '1')").collect()
    }
    val m1 = Iterator.iterate(e1: Throwable)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(m1.contains("set_retention"), s"remedy must be named: $m1")
    retainOn(cat)                                                  // gen 3
    spark.sql(s"CALL $cat.system.tag(table => 'rt', " +
      "name => 'pre-fix')").collect()
    spark.sql(s"DELETE FROM $cat.rt WHERE id < 10")                // gen 4
    // tag resolution
    spark.sql(s"CALL $cat.system.rollback(table => 'rt', " +
      "version => 'pre-fix')")                                     // gen 5
    sameRows(spark.table(s"$cat.rt").select("id", "uid", "vc"), snap(cat, 3))
    // an EXPIRED target refuses loudly (gen 1 predates the baseline —
    // it carries no snapshot)
    val e2 = intercept[Exception] {
      spark.sql(s"CALL $cat.system.rollback(table => 'rt', " +
        "version => '1')").collect()
    }
    val m2 = Iterator.iterate(e2: Throwable)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(m2.contains("retention") || m2.contains("snapshot"),
      s"a snapshot-less target must refuse loudly: $m2")
    assert(LakeVersions.listDir(store, "rt").gens.max == 5L,
      "refused rollbacks mint nothing")
  }

  test("CAS race: a commit landing under the rollback aborts it loudly — a racing equality delete is never silently discarded") {
    val (cat, root, store) = fixture()
    land(root)
    retainOn(cat)                                                  // gen 1
    morOn(cat)
    spark.sql(s"DELETE FROM $cat.rt WHERE uid = 3")                // gen 2
    // run the rollback to the brink of its CAS, land a second equality
    // delete, release: the rollback's eqBasis (planned under gen 2's
    // one-entry list) no longer matches and it must abort with no
    // effect — committing would discard uid=9's deletion
    val entered = new CountDownLatch(1)
    val gate = new CountDownLatch(1)
    val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
    LakeVersions.beforeCasHook = _ =>
      if (armed.getAndSet(false)) {
        entered.countDown()
        gate.await(60, TimeUnit.SECONDS); ()
      }
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val t = new Thread(() =>
      try {
        spark.sql(s"CALL $cat.system.rollback(table => 'rt', " +
          "version => '1')").collect(); ()
      } catch { case e: Throwable => err.set(e) })
    try {
      t.start()
      assert(entered.await(60, TimeUnit.SECONDS), "rollback never reached CAS")
      spark.sql(s"DELETE FROM $cat.rt WHERE uid = 9")              // gen 3
    } finally {
      gate.countDown()
      t.join(120000)
      LakeVersions.beforeCasHook = _ => ()
    }
    val chain = Iterator.iterate(err.get())(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(err.get() != null && (chain.contains("concurrent") ||
      chain.contains("moved from generation")),
      s"the rollback must abort loudly naming the conflict: $chain")
    // BOTH deletes stand — nothing was discarded
    assert(spark.table(s"$cat.rt").count() == 500 - 20)
    assert(LakeVersions.head(store, "rt",
      LakeVersions.listDir(store, "rt")).get.eqdels.size == 2)
  }

  test("ANY concurrent commit aborts a rollback, even one DISJOINT from its plan — the plan is pinned to the head it was computed against") {
    val (cat, root, store) = fixture()
    land(root)
    retainOn(cat)                                                  // gen 1
    spark.sql(s"UPDATE $cat.rt SET vc = vc + 1000 WHERE id < 10")  // gen 2
    // rollback-to-1 plans against head gen 2; a DISJOINT update (rows
    // the rollback's removed/restored/dv/eq sets never touch... but the
    // MERGED state would equal neither the target nor an abort) lands
    // before its CAS
    val entered = new CountDownLatch(1)
    val gate = new CountDownLatch(1)
    val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
    LakeVersions.beforeCasHook = _ =>
      if (armed.getAndSet(false)) {
        entered.countDown()
        gate.await(60, TimeUnit.SECONDS); ()
      }
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val t = new Thread(() =>
      try {
        spark.sql(s"CALL $cat.system.rollback(table => 'rt', " +
          "version => '1')").collect(); ()
      } catch { case e: Throwable => err.set(e) })
    try {
      t.start()
      assert(entered.await(60, TimeUnit.SECONDS), "rollback never reached CAS")
      spark.sql(s"UPDATE $cat.rt SET vc = vc + 5 WHERE id >= 490") // gen 3
    } finally {
      gate.countDown()
      t.join(120000)
      LakeVersions.beforeCasHook = _ => ()
    }
    val chain = Iterator.iterate(err.get())(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    assert(err.get() != null && chain.contains("moved from generation"),
      s"a stale rollback plan must abort loudly: $chain")
    // both updates stand, nothing rolled back
    assert(LakeVersions.listDir(store, "rt").gens.max == 3L)
    assert(spark.table(s"$cat.rt").agg(sum("vc")).head.getLong(0) ==
      (0L until 500L).sum + 10L * 1000L + 10L * 5L)
  }

  test("a pending branch publish whose replaced originals a rollback removed aborts loudly, staged state intact for abort_audit") {
    val (cat, root, store) = fixture()
    land(root)                                                     // hour 08
    retainOn(cat)                                                  // gen 1
    // appended AFTER the baseline: rollback to gen 1 will remove it
    land(root, hour = "2024-07-01T09:00:00Z", lo = 1000, n = 100)
    // stage a batch and run branch DML that REPLACES the appended
    // object (its rewrite hides behind the audit intent)
    import spark.implicits._
    val hot = java.sql.Timestamp.from(Instant.parse("2024-07-01T10:00:00Z"))
    (0 until 10).map(i => (5000L + i, -1L, 0L)).toDF("id", "uid", "vc")
      .withColumn("_event_hour", lit(hot)).coalesce(1)
      .write.format("graft-lake").option("table", "rt")
      .option("auditId", "br").mode("append").save(root)
    spark.conf.set("spark.graft.wap.branch", "br")
    try spark.sql(s"UPDATE $cat.rt SET vc = 0 WHERE id >= 1000")
    finally spark.conf.unset("spark.graft.wap.branch")
    // the rollback lands first: the appended object (the branch's
    // replaced original) leaves the live set
    spark.sql(s"CALL $cat.system.rollback(table => 'rt', " +
      "version => '1')").collect()
    assert(spark.table(s"$cat.rt").count() == 500)
    // the publish must abort LOUDLY — committing would resurrect the
    // rolled-back rows through the branch's rewrite
    val e = intercept[Exception] {
      spark.sql(s"CALL $cat.system.publish_audit(table => 'rt', " +
        "audit_id => 'br')").collect()
    }
    val m = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    assert(m.toLowerCase.contains("concurrent") || m.contains("removed"),
      s"the publish must name the conflict: $m")
    // the table is exactly the rolled-back state, and abort cleans up
    assert(spark.table(s"$cat.rt").count() == 500)
    spark.sql(s"CALL $cat.system.abort_audit(table => 'rt', " +
      "audit_id => 'br')").collect()
    assert(spark.table(s"$cat.rt").count() == 500)
    assert(LakeVersions.listDir(store, "rt").intents.isEmpty,
      "abort must clear the audit intent")
  }

  test("streams: a ledger that delivered a resurrected key never redelivers it; a post-removal stream delivers it exactly once") {
    val (cat, root, _) = fixture()
    land(root)
    retainOn(cat)                                                  // gen 1
    // one checkpointed drain of `rt`: returns the rows THIS run delivered
    def drain(ckpt: String): Long = {
      val n = new java.util.concurrent.atomic.AtomicLong(0L)
      val q = spark.readStream.format("graft-lake").option("table", "rt")
        .load(root).writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          n.addAndGet(df.count()); ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      n.get()
    }
    def freshCkpt(): String =
      tempDir("graft-rb-ckpt").toFile.getAbsolutePath
    // stream A delivers all 500 rows, checkpointed
    val ckptA = freshCkpt()
    assert(drain(ckptA) == 500)
    spark.sql(s"DELETE FROM $cat.rt WHERE id >= 250")              // gen 2
    // stream B starts AFTER the removal: sees only the surviving object
    val ckptB = freshCkpt()
    assert(drain(ckptB) == 250)
    spark.sql(s"CALL $cat.system.rollback(table => 'rt', " +
      "version => '1')")                                           // gen 3
    // A already delivered the resurrected key — its ledger blocks a
    // second delivery (exactly-once per logical row)
    assert(drain(ckptA) == 0,
      "a ledger that delivered the key must not redeliver it")
    // B never saw those rows — the resurrected object delivers ONCE
    assert(drain(ckptB) == 250,
      "a post-removal stream must deliver the resurrected rows once")
    assert(drain(ckptB) == 0, "and exactly once")
    // a FRESH stream reads the rolled-back state in full
    assert(drain(freshCkpt()) == 500)
  }
}
