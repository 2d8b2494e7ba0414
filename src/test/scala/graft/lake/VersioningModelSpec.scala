package graft.lake

import graft.SparkSuite
import graft.types.{ColType, TableSchema}

import java.io.{InputStream, OutputStream}
import java.time.Instant

import org.apache.spark.sql.functions._

/** Trust-by-exhaustion for the versioned-commit protocol: a SEEDED
  * random sequence of every mutating verb (appends, COW UPDATE/DELETE,
  * metadata DELETE, compaction, retention, latch-interleaved writer
  * pairs) against an in-memory model — after every step the table must
  * equal the model exactly. Plus the commit protocol under S3-LIKE
  * store semantics (copy+delete renames, torn record writes, transient
  * put faults), the FaultyStoreSpec posture extended to the CAS. */
class VersioningModelSpec extends SparkSuite {

  private val schema = TableSchema("mv", Seq(
    "id" -> ColType.CInteger, "vc" -> ColType.CInteger))

  private val OldHour = Instant.parse("2024-06-30T08:00:00Z")
  private val HourA = Instant.parse("2024-07-01T08:00:00Z")
  private val HourB = Instant.parse("2024-07-01T09:00:00Z")

  test("seeded randomized DML/maintenance sequences: the versioned table equals the model after every step") {
    val root = tempUri("graft-vmodel")
    val store = new HadoopStore(root)
    val cat = s"vm${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    import spark.implicits._

    val rnd = new scala.util.Random(20260815L)
    // id -> (vc, hour)
    val model = scala.collection.mutable.Map.empty[Long, (Long, Instant)]
    var nextId = 0L
    // the SIBLING table for cross-table transactions (mv's "derived"
    // table): id -> vc; created lazily at the first transaction verb
    val model2 = scala.collection.mutable.Map.empty[Long, Long]
    var next2 = 0L
    val schema2 = TableSchema("mv2", Seq(
      "id" -> ColType.CInteger, "vc" -> ColType.CInteger))

    def append(): String = {
      val hour = Seq(OldHour, HourA, HourB)(rnd.nextInt(3))
      val ids = (nextId until nextId + 50L)
      nextId += 50L
      LakeWriter.write(
        ids.map(i => (i, i)).toDF("id", "vc").orderBy("id").coalesce(1),
        schema, root, hour, maxRecordsPerObject = 20L, zoneMaps = true)
      ids.foreach(i => model(i) = (i, hour))
      s"append 50 @$hour"
    }
    append() // the table must exist before SQL can name it
    // retention ON (gen 1 baseline): every later commit is a rollback
    // target, and hour-expire retires instead of deleting — the model's
    // rollback verb can resurrect across expire/compact/DML/txn history
    spark.sql(s"CALL $cat.system.set_retention(table => 'mv', " +
      "retain => true)").collect()
    def headGen(): Long = {
      val st = LakeVersions.listDir(store, "mv")
      LakeVersions.head(store, "mv", st).map(_.gen).getOrElse(0L)
    }
    // gen -> the model state AT that commit's mint (first capture wins:
    // a later append mutates the model but not the snapshot at the gen,
    // exactly like liveAt excludes post-commit appends)
    val captured = scala.collection.mutable.Map.empty[Long, Map[Long, (Long, Instant)]]
    captured(headGen()) = model.toMap
    var rolledBack = false

    def verify(step: Int): Unit = {
      val r = spark.table(s"$cat.mv")
        .agg(count(lit(1)), sum("vc"), sum("id"), countDistinct("id")).head
      val (n, sv, si) = (model.size.toLong,
        model.values.map(_._1).sum, model.keys.sum)
      assert(r.getLong(0) == n && r.getLong(3) == n,
        s"step $step: rows ${r.getLong(0)} distinct ${r.getLong(3)} vs model $n")
      assert((if (n == 0) 0L else r.getLong(1)) == sv &&
        (if (n == 0) 0L else r.getLong(2)) == si,
        s"step $step: sum(vc)=${r.getLong(1)} sum(id)=${r.getLong(2)} " +
          s"vs model ($sv, $si)")
      if (model2.nonEmpty) {
        val r2 = spark.table(s"$cat.mv2").agg(count(lit(1)), sum("vc")).head
        assert(r2.getLong(0) == model2.size.toLong &&
          r2.getLong(1) == model2.values.sum,
          s"step $step: mv2 (${r2.getLong(0)}, ${r2.getLong(1)}) vs model2 " +
            s"(${model2.size}, ${model2.values.sum})")
      }
    }

    for (step <- 1 to 30) {
      // DETERMINISTIC coverage floor: whatever the seed draws, the two
      // rarest verbs fire at least once — a reseed can no longer
      // silently gut transaction or rollback coverage
      val forced: Option[Int] =
        if (step >= 27 && next2 == 0L) Some(12)
        else if (step >= 29 && !rolledBack) Some(13)
        else None
      val what = forced.getOrElse(rnd.nextInt(15)) match {
        case 13 | 14 => // ROLLBACK to a captured retained generation:
          // the table must land exactly on the model state captured at
          // that commit's mint — across whatever COW/MOR/compact/
          // expire/txn history separates them. The model re-applies
          // the captured copy; everything after stays addressable.
          val pool = captured.keys.toSeq.sorted
          val g = pool(rnd.nextInt(pool.size))
          spark.sql(s"CALL $cat.system.rollback(table => 'mv', " +
            s"version => '$g')").collect()
          model.clear(); model ++= captured(g)
          rolledBack = true
          s"rollback -> gen $g"
        case 0 | 1 => append()
        case 12 => // CROSS-TABLE TRANSACTION: mv + its sibling mv2 gain
          // a batch each, flipping at ONE decision ([[LakeTxn]]); half
          // the time the second table's CAS is faulted first — the
          // whole transaction must roll back (verified by the model:
          // nothing applies) and the RETRY must publish both from the
          // surviving staged batches
          if (next2 == 0L) {
            val base = (0L until 10L)
            next2 = 10L
            LakeWriter.write(
              base.map(i => (i, i)).toDF("id", "vc").orderBy("id").coalesce(1),
              schema2, root, HourA)
            base.foreach(i => model2(i) = i)
          }
          val hour = Seq(HourA, HourB)(rnd.nextInt(2))
          val hot = java.sql.Timestamp.from(hour)
          val aid = s"t$step"
          val ids = nextId until nextId + 20L
          nextId += 20L
          ids.map(i => (i, i)).toDF("id", "vc")
            .withColumn("_event_hour", lit(hot)).coalesce(1)
            .write.format("graft-lake").option("table", "mv")
            .option("auditId", aid).mode("append").save(root)
          val ids2 = next2 until next2 + 10L
          next2 += 10L
          ids2.map(i => (i, 5L * i)).toDF("id", "vc")
            .withColumn("_event_hour", lit(hot)).coalesce(1)
            .write.format("graft-lake").option("table", "mv2")
            .option("auditId", aid).mode("append").save(root)
          val faulted = rnd.nextBoolean()
          if (faulted) {
            LakeVersions.beforeCasHook = t =>
              if (t == "mv2") sys.error(s"injected txn fault @$step")
            val thrown =
              try {
                spark.sql(s"CALL $cat.system.commit_transaction(" +
                  s"tables => 'mv,mv2', audit_id => '$aid')").collect()
                false
              } catch { case _: Throwable => true }
              finally LakeVersions.beforeCasHook = _ => ()
            assert(thrown, s"step $step: the injected txn fault must abort")
            // NOTHING applied: both tables must still equal the models
            verify(step)
          }
          // clean publish (or the retry after the injected abort)
          spark.sql(s"CALL $cat.system.commit_transaction(" +
            s"tables => 'mv,mv2', audit_id => '$aid')").collect()
          ids.foreach(i => model(i) = (i, hour))
          ids2.foreach(i => model2(i) = 5L * i)
          s"txn +20/mv +10/mv2 @$hour${if (faulted) " (faulted once)" else ""}"
        case 10 | 11 => // MERGE (position-delta): both arms against
          // whatever state exists — matched ids bump vc, source ids the
          // table lacks (including previously DELETED ones) insert
          val (m, r, k) = (3 + rnd.nextInt(5), rnd.nextInt(3), 1 + rnd.nextInt(100))
          val hour = Seq(HourA, HourB)(rnd.nextInt(2))
          val srcIds = (0L until nextId).filter(_ % m == r)
          if (srcIds.isEmpty) "noop" else {
            srcIds.toDF("sid").createOrReplaceTempView("vm_merge_src")
            spark.sql(
              s"""MERGE INTO $cat.mv t USING vm_merge_src s ON t.id = s.sid
                 |WHEN MATCHED THEN UPDATE SET vc = vc + $k
                 |WHEN NOT MATCHED THEN INSERT (id, vc, _event_hour)
                 |  VALUES (s.sid, 7, TIMESTAMP '$hour')
                 |""".stripMargin)
            srcIds.foreach { i =>
              model.get(i) match {
                case Some((v, h)) => model(i) = (v + k, h)
                case None => model(i) = (7L, hour)
              }
            }
            s"merge %$m=$r +$k ins@$hour"
          }
        case 2 | 3 => // COW UPDATE
          val (m, r, k) = (2 + rnd.nextInt(6), rnd.nextInt(2), 1 + rnd.nextInt(1000))
          spark.sql(s"UPDATE $cat.mv SET vc = vc + $k WHERE id % $m = $r")
          model.keys.filter(_ % m == r).foreach { i =>
            val (v, h) = model(i); model(i) = (v + k, h) }
          s"update %$m=$r +$k"
        case 4 => // COW DELETE (arbitrary predicate)
          val (m, r) = (3 + rnd.nextInt(8), rnd.nextInt(3))
          spark.sql(s"DELETE FROM $cat.mv WHERE id % $m = $r AND vc % 2 = 0")
          model.filterInPlace { case (i, (v, _)) => !(i % m == r && v % 2 == 0) }
          s"cow-delete %$m=$r even-vc"
        case 5 => // metadata DELETE (IN-probe)
          val pool = model.keys.toSeq.sorted
          if (pool.isEmpty) "noop" else {
            val picks = Seq.fill(1 + rnd.nextInt(5))(pool(rnd.nextInt(pool.size))).distinct
            spark.sql(s"DELETE FROM $cat.mv WHERE id IN (${picks.mkString(", ")})")
            picks.foreach(model.remove)
            s"meta-delete ${picks.size} ids"
          }
        case 6 => // compact
          LakeMaintenance.compact(spark, store, "mv",
            targetRecords = 40L, zoneMaps = true)
          "compact"
        case 7 => // retention: the old hour leaves
          LakeMaintenance.expire(store, "mv", Instant.parse("2024-07-01T00:00:00Z"))
          model.filterInPlace { case (_, (_, h)) => h != OldHour }
          "expire old hour"
        case _ => // latch-interleaved writer pair: B always commits; A
          // commits only when its scanned objects are disjoint from B's
          val (ra, rb) = (rnd.nextInt(5), rnd.nextInt(5))
          val (ka, kb) = (1 + rnd.nextInt(100), 1 + rnd.nextInt(100))
          val entered = new java.util.concurrent.CountDownLatch(1)
          val gate = new java.util.concurrent.CountDownLatch(1)
          val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
          LakeVersions.beforeCasHook = _ =>
            if (armed.getAndSet(false)) {
              entered.countDown()
              gate.await(60, java.util.concurrent.TimeUnit.SECONDS); ()
            }
          val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
          val t = new Thread(() =>
            try { spark.sql(s"UPDATE $cat.mv SET vc = vc + $ka WHERE id % 5 = $ra"); () }
            catch { case e: Throwable => err.set(e) })
          try {
            t.start()
            assert(entered.await(60, java.util.concurrent.TimeUnit.SECONDS))
            spark.sql(s"UPDATE $cat.mv SET vc = vc + $kb WHERE id % 5 = $rb")
          } finally {
            gate.countDown(); t.join(120000)
            LakeVersions.beforeCasHook = _ => ()
          }
          // B committed: apply it; A applied only if it did not abort
          model.keys.filter(_ % 5 == rb).foreach { i =>
            val (v, h) = model(i); model(i) = (v + kb, h) }
          if (err.get() == null)
            model.keys.filter(_ % 5 == ra).foreach { i =>
              val (v, h) = model(i); model(i) = (v + ka, h) }
          s"race a(%5=$ra +$ka ${if (err.get() == null) "won" else "aborted"}) " +
            s"b(%5=$rb +$kb)"
      }
      withClue(s"after step $step: $what") { verify(step) }
      captured.getOrElseUpdate(headGen(), model.toMap); ()
    }
    // full-row equivalence at the end, not just aggregates
    val table = spark.table(s"$cat.mv").select("id", "vc")
    val expect = model.toSeq.map { case (i, (v, _)) => (i, v) }.toDF("id", "vc")
    assert(table.exceptAll(expect).count() == 0 &&
      expect.exceptAll(table).count() == 0, "full rows equal the model")
    // the seeded sequence must actually exercise the transaction verb
    // (a reseed that skips case 12 would silently gut this coverage)
    assert(model2.nonEmpty, "the transaction verb never fired — reseed")
    assert(rolledBack, "the rollback verb never fired — reseed")
    val t2 = spark.table(s"$cat.mv2").select("id", "vc")
    val e2 = model2.toSeq.toDF("id", "vc")
    assert(t2.exceptAll(e2).count() == 0 && e2.exceptAll(t2).count() == 0,
      "mv2 full rows equal the model")
  }

  /** Delegating store with S3-style semantics: copy+delete renames, an
    * armable torn CAS write, an armable transient put fault. */
  private final class S3ishStore(inner: Store) extends Store {
    @volatile var tearNextExclusive = false
    @volatile var failNextPut = false
    override def put(key: String, data: InputStream): Unit = {
      if (failNextPut) {
        failNextPut = false
        inner.put(key, new java.io.ByteArrayInputStream("garbage".getBytes))
        throw new java.io.IOException(s"injected transient put failure at $key")
      }
      inner.put(key, data)
    }
    override def create(key: String): OutputStream = inner.create(key)
    override def createExclusive(key: String): OutputStream = {
      val out = inner.createExclusive(key)
      if (!tearNextExclusive) out
      else {
        tearNextExclusive = false
        new OutputStream { // dies mid-record: a torn CAS occupant
          private var written = 0
          override def write(b: Int): Unit = {
            if (written >= 20) throw new java.io.IOException(
              s"injected torn record write at $key")
            out.write(b); written += 1
          }
          override def write(b: Array[Byte], off: Int, len: Int): Unit = {
            val take = math.min(len, 20 - written)
            if (take > 0) { out.write(b, off, take); written += take }
            if (take < len) { out.close(); throw new java.io.IOException(
              s"injected torn record write at $key") }
          }
          override def close(): Unit = out.close()
        }
      }
    }
    override def open(key: String): InputStream = inner.open(key)
    override def list(prefix: String): Seq[String] = inner.list(prefix)
    override def exists(key: String): Boolean = inner.exists(key)
    override def delete(key: String): Unit = inner.delete(key)
    // the trait's object-store copy+delete default, NEVER a fast rename
    override def rename(src: String, dst: String): Unit = {
      put(dst, open(src)); delete(src)
    }
    override def listDirs(prefix: String): Seq[String] = inner.listDirs(prefix)
    override def rootUri: String = inner.rootUri
  }

  test("the commit protocol under S3-like semantics: copy+delete publish commits exactly; a torn CAS aborts with the table intact and the re-run reclaims the slot") {
    val root = tempUri("graft-vs3")
    val store = new S3ishStore(new HadoopStore(root))
    import spark.implicits._
    LakeWriter.write(
      (0 until 400).map(i => (i.toLong, s"u${i % 8}", i * 1.0))
        .toDF("id", "user", "v").orderBy("id").coalesce(1),
      TableSchema("s3v", Seq("id" -> ColType.CInteger,
        "user" -> ColType.CString, "v" -> ColType.CFloat)),
      root, HourA, maxRecordsPerObject = 100L,
      zoneMaps = true, bloomColumns = Seq("user"))

    // 1. a TORN CAS write: the statement aborts, nothing published,
    //    nothing retired — the table reads exactly as before
    store.tearNextExclusive = true
    val e = intercept[Exception] {
      LakeMaintenance.deleteWhere(spark, store, "s3v", "user", Seq("u3"),
        zoneMaps = true, bloomColumns = Seq("user"))
    }
    assert(e.getMessage.contains("torn record write"), e.getMessage)
    assert(LakeReader.read(spark, root, "s3v").count() == 400,
      "an aborted statement leaves the table intact")
    assert(LakeReader.read(spark, root, "s3v")
      .where(col("user") === "u3").count() == 50)

    // 2. the RE-RUN reclaims the torn gen-1 slot and commits through
    //    copy+delete renames end-to-end
    val rep = LakeMaintenance.deleteWhere(spark, store, "s3v", "user",
      Seq("u3"), zoneMaps = true, bloomColumns = Seq("user"))
    assert(rep.rowsDeleted == 50L, s"$rep")
    assert(LakeVersions.readRecord(store, "s3v", 1L).exists(_.op == "delete_where"),
      "the reclaimed slot holds the re-run's record")
    assert(LakeReader.read(spark, root, "s3v").count() == 350)
    assert(LakeReader.read(spark, root, "s3v")
      .where(col("user") === "u3").count() == 0)

    // 3. a transient put fault MID-PUBLISH (during a copy+delete rename)
    //    aborts the statement pre-CAS; readers never see the half-copied
    //    garbage (its intent is uncommitted), and the re-run completes
    store.failNextPut = true
    val e2 = intercept[Exception] {
      LakeMaintenance.deleteWhere(spark, store, "s3v", "user", Seq("u5"),
        zoneMaps = true, bloomColumns = Seq("user"))
    }
    assert(Iterator.iterate(e2: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("injected transient put"))),
      e2.toString)
    assert(LakeReader.read(spark, root, "s3v").count() == 350,
      "half-published garbage is invisible (uncommitted intent)")
    val rep2 = LakeMaintenance.deleteWhere(spark, store, "s3v", "user",
      Seq("u5"), zoneMaps = true, bloomColumns = Seq("user"))
    assert(rep2.rowsDeleted == 50L, s"$rep2")
    assert(LakeReader.read(spark, root, "s3v").count() == 300)
  }
}
