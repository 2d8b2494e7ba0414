package graft.lake

import graft.SparkSuite
import graft.types.{ColType, TableSchema}

import java.time.Instant
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.functions._

/** [[LakeVersions]] — the per-table generation pointer that makes
  * multi-object commits atomic and SERIALIZED: two overlapping writers
  * can no longer both publish (the r13 verdict's concurrent-DML
  * duplication hazard), the publish/retire crash window collapses to
  * one create-exclusive, and retained history answers `VERSION AS OF`. */
class LakeVersionsSpec extends SparkSuite {

  private val schema = TableSchema("vt", Seq(
    "id" -> ColType.CInteger, "vc" -> ColType.CInteger))

  private def fixture(): (String, String, HadoopStore) = {
    val root = tempUri("graft-ver-spec")
    val cat = s"ver${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root, new HadoopStore(root))
  }

  /** 500 rows, id-banded into two 250-row objects (zone maps), hour 08. */
  private def land(root: String): Seq[String] = {
    import spark.implicits._
    LakeWriter.write(
      (0 until 500).map(i => (i.toLong, i.toLong)).toDF("id", "vc")
        .orderBy("id").coalesce(1),
      schema, root, Instant.parse("2024-07-01T08:00:00Z"),
      maxRecordsPerObject = 250L, zoneMaps = true).map(_.key)
  }

  // interleave() resets the hook on every exit path; belt-and-braces
  // resets also run at the top of each interleaving test

  /** Run `first` (a SQL statement) up to the brink of its CAS, run
    * `second` to completion on this thread, then release `first`. */
  private def interleave(firstSql: => Unit)(second: => Unit): Option[Throwable] = {
    val entered = new CountDownLatch(1)
    val gate = new CountDownLatch(1)
    val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
    LakeVersions.beforeCasHook = _ =>
      if (armed.getAndSet(false)) {
        entered.countDown()
        gate.await(60, TimeUnit.SECONDS); ()
      }
    val t = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val thread = new Thread(() =>
      try firstSql catch { case e: Throwable => t.set(e) })
    try {
      thread.start()
      assert(entered.await(60, TimeUnit.SECONDS),
        "writer A never reached its CAS")
      second
    } finally {
      gate.countDown()
      thread.join(120000)
      LakeVersions.beforeCasHook = _ => ()
    }
    assert(!thread.isAlive, "writer A never finished")
    Option(t.get())
  }

  test("two OVERLAPPING COW UPDATEs: exactly one commits, the loser aborts loudly, the table is exactly the winner's result") {
    val (cat, root, store) = fixture()
    land(root)
    // A scans BOTH objects (id < 300 spans the 0..249 and 250..499
    // bands); B scans the first only — overlap = object 1
    val err = interleave {
      spark.sql(s"UPDATE $cat.vt SET vc = vc + 1000 WHERE id < 300"); ()
    } {
      spark.sql(s"UPDATE $cat.vt SET vc = vc + 7 WHERE id < 100"); ()
    }
    val chain = Iterator.iterate(err.orNull)(_.getCause).takeWhile(_ != null)
      .map(e => s"${e.getClass.getName}: ${e.getMessage}").mkString(" | ")
    assert(err.isDefined && chain.contains("concurrent"),
      s"the loser must abort loudly naming the conflict, got: $chain")
    // the table is EXACTLY B's result: no duplicated kept rows, no lost
    // rows, no half-applied A
    val r = spark.table(s"$cat.vt")
      .agg(count(lit(1)), sum("vc"), countDistinct("id")).head
    assert(r.getLong(0) == 500 && r.getLong(2) == 500,
      s"every row exactly once: $r")
    assert(r.getLong(1) == (0L until 500L).sum + 7L * 100L,
      s"B's update applied, A's not: $r")
    // and the STORE holds no stray uncommitted replacements: every
    // listed key is live, A's published-then-aborted keys are gone
    val listed = LakeReader.listTableKeys(store, "vt", None).toSet
    val raw = store.list("").filter(k => LakeKeys.parseKey(k).exists(_._2 == "vt"))
    assert(raw.toSet == listed, s"stray keys: ${raw.toSet -- listed}")
    // exactly one generation committed
    assert(LakeVersions.listDir(store, "vt").gens == Seq(1L))
  }

  test("two DISJOINT concurrent commits both succeed: the loser retries onto the next generation") {
    val (cat, root, store) = fixture()
    land(root)
    // A scans only the second object (band 250..499), B only the first
    val err = interleave {
      spark.sql(s"UPDATE $cat.vt SET vc = vc + 1000 WHERE id BETWEEN 260 AND 270"); ()
    } {
      spark.sql(s"UPDATE $cat.vt SET vc = vc + 7 WHERE id < 100"); ()
    }
    assert(err.isEmpty, s"disjoint writers must both commit: $err")
    val r = spark.table(s"$cat.vt").agg(count(lit(1)), sum("vc")).head
    assert(r.getLong(0) == 500)
    assert(r.getLong(1) == (0L until 500L).sum + 7L * 100L + 1000L * 11L,
      s"both updates applied: $r")
    assert(LakeVersions.listDir(store, "vt").gens == Seq(1L, 2L))
  }

  test("UPDATE racing compact: the overlapped statement aborts, never silently duplicates") {
    val (cat, root, store) = fixture()
    land(root)
    val err = interleave {
      spark.sql(s"UPDATE $cat.vt SET vc = vc + 1000 WHERE id < 300"); ()
    } {
      val rep = LakeMaintenance.compact(spark, store, "vt",
        targetRecords = 1000L, zoneMaps = true)
      assert(rep.oldObjects == 2 && rep.newObjects == 1)
    }
    assert(err.isDefined, "the update scanned objects compact retired — abort")
    val r = spark.table(s"$cat.vt")
      .agg(count(lit(1)), sum("vc"), countDistinct("id")).head
    assert(r.getLong(0) == 500 && r.getLong(2) == 500 &&
      r.getLong(1) == (0L until 500L).sum,
      s"compact's result only, every row exactly once: $r")
  }

  test("two OVERLAPPING delete_where statements: the loser aborts and the winner's fresh-named replacements survive untouched") {
    val (cat, root, store) = fixture()
    land(root)
    // both statements scan object 1 (ids 0..249): A deletes evens under
    // 100, B deletes ids 0..9 — overlapping scopes, and pre-r14's
    // name-DERIVED replacements would have collided here (the loser's
    // publish/cleanup could overwrite or delete the winner's object)
    val err = interleave {
      LakeMaintenance.deleteWhereMulti(spark, store, "vt",
        Seq("id" -> (0L until 100L by 2).map(x => x: Any)), zoneMaps = true); ()
    } {
      val rep = LakeMaintenance.deleteWhereMulti(spark, store, "vt",
        Seq("id" -> (0L until 10L).map(x => x: Any)), zoneMaps = true)
      assert(rep.rowsDeleted == 10L, s"$rep")
    }
    assert(err.isDefined, "the overlapped statement must abort")
    val r = spark.table(s"$cat.vt")
      .agg(count(lit(1)), countDistinct("id"), sum("vc")).head
    assert(r.getLong(0) == 490 && r.getLong(1) == 490,
      s"winner's delete only, every surviving row exactly once: $r")
    assert(r.getLong(1) == 490 &&
      r.getLong(2) == (10L until 500L).sum,
      s"ids 0..9 gone, everything else intact: $r")
  }

  test("a TORN generation record (crashed committer) is skipped by readers and its slot reclaimed by the next writer") {
    val (cat, root, store) = fixture()
    land(root)
    // a half-written gen-1: strict parse fails -> uncommitted
    val out = store.create(LakeVersions.genKey("vt", 1L))
    out.write(Array[Byte](0x1f, 0x2e, 0x3d)); out.close()
    assert(LakeVersions.exclusions(store, "vt").isEmpty,
      "a torn record tombstones nothing")
    assert(spark.table(s"$cat.vt").count() == 500)
    // the next mutating statement reclaims the slot and commits INTO it
    spark.sql(s"UPDATE $cat.vt SET vc = 0 WHERE id = 3")
    val rec = LakeVersions.readRecord(store, "vt", 1L)
    assert(rec.exists(_.op == "update"), s"slot reclaimed and committed: $rec")
    assert(spark.table(s"$cat.vt").agg(sum("vc")).head.getLong(0)
      == (0L until 500L).sum - 3L)
  }

  test("an UNCOMMITTED intent hides its published keys; the next commit heals a committed one left behind") {
    val (cat, root, store) = fixture()
    land(root)
    // simulate a publish crashed before its CAS: a replacement renamed
    // into place under an intent that never committed
    import spark.implicits._
    val stray = LakeWriter.write(
      Seq((9999L, 1L)).toDF("id", "vc").coalesce(1),
      schema, root, Instant.parse("2024-07-01T08:00:00Z")).map(_.key)
    LakeVersions.writeIntent(store, "vt", "crashed-intent", stray)
    assert(!LakeReader.listTableKeys(store, "vt", None).exists(stray.contains),
      "keys of an uncommitted intent are not part of the table")
    assert(spark.table(s"$cat.vt").count() == 500)
    // a committed generation referencing an intent that was never
    // deleted (crash between CAS and cleanup): healed by the NEXT commit
    spark.sql(s"UPDATE $cat.vt SET vc = 0 WHERE id = 3") // gen 1
    spark.sql(s"UPDATE $cat.vt SET vc = 0 WHERE id = 4") // gen 2, heals
    val st = LakeVersions.listDir(store, "vt")
    assert(st.intents == Seq("crashed-intent"),
      s"only the uncommitted intent survives (janitor's job): ${st.intents}")
  }

  test("an intent deleted between a reader's listing and its read: the reader lists again and sees the commit that deleted it") {
    type Seen = (Set[String], Map[String, Seq[String]]) // excluded keys, provenance
    val readers = Seq[(String, Store => Seen)](
      "tableView" -> (s => (LakeVersions.tableView(s, "vt").excl, Map.empty)),
      "ChainCache.refresh" -> { s =>
        val c = new LakeVersions.ChainCache(s, "vt").refresh()
        (c.view.excl, c.provenance)
      })
    for ((name, read) <- readers) {
      val (_, root, store) = fixture()
      val replaced = land(root).min
      import spark.implicits._
      val fresh = LakeWriter.write(Seq((9999L, 1L)).toDF("id", "vc").coalesce(1),
        schema, root, Instant.parse("2024-07-01T08:00:00Z")).map(_.key)
      LakeVersions.writeIntent(store, "vt", "racing", fresh)
      val intent = LakeVersions.intentKey("vt", "racing")
      // the statement commits (and deletes its intent) after the reader's
      // listing named the intent, right before the reader opens it
      var landed = false
      val racing = new Store {
        def put(key: String, data: java.io.InputStream): Unit = store.put(key, data)
        def create(key: String): java.io.OutputStream = store.create(key)
        def open(key: String): java.io.InputStream = {
          if (key == intent && !landed) {
            landed = true
            LakeVersions.commit(store, "vt", op = "update", removed = Seq(replaced),
              added = fresh, intentId = Some("racing"))
          }
          store.open(key)
        }
        def list(prefix: String): Seq[String] = store.list(prefix)
        def exists(key: String): Boolean = store.exists(key)
        def delete(key: String): Unit = store.delete(key)
        def listDirs(prefix: String): Seq[String] = store.listDirs(prefix)
        def rootUri: String = store.rootUri
      }
      val (excl, provenance) = read(racing)
      assert(landed && !store.exists(intent), name)
      // neither pending nor committed would publish both the replaced
      // object and its replacement
      assert(excl.contains(replaced), s"$name: the committed record retires the replaced object")
      if (name == "ChainCache.refresh")
        assert(fresh.forall(provenance.get(_).contains(Seq(replaced))),
          s"$name: the replacement carries its provenance")
    }
  }

  test("sweep_staging reclaims an ORPHANED intent: its hidden keys and the intent leave, fresh and committed intents survive") {
    val (cat, root, store) = fixture()
    land(root)
    import spark.implicits._
    // the crashed-pre-CAS state: replacement keys in final locations,
    // hidden by an unreferenced intent
    val stray = LakeWriter.write(
      Seq((9999L, 1L)).toDF("id", "vc").coalesce(1),
      schema, root, Instant.parse("2024-07-01T08:00:00Z")).map(_.key)
    LakeVersions.writeIntent(store, "vt", "dead-intent", stray)
    // a COMMITTED-and-unreferenced... cannot exist; a committed one is
    // referenced — land one through a real DML and leave its intent
    // deleted by the protocol; only the dead intent must sweep
    spark.sql(s"UPDATE $cat.vt SET vc = 0 WHERE id = 3")
    // too fresh: kept
    val rep0 = LakeMaintenance.sweepStaging(store,
      Instant.now().minusSeconds(3600))
    assert(store.exists(LakeVersions.intentKey("vt", "dead-intent")) &&
      stray.forall(store.exists), s"a fresh intent never sweeps: $rep0")
    // old enough: the intent AND the keys it hides leave
    val rep1 = LakeMaintenance.sweepStaging(store,
      Instant.now().plusSeconds(3600))
    assert(rep1.sweptPrefixes >= 1, s"$rep1")
    assert(!store.exists(LakeVersions.intentKey("vt", "dead-intent")))
    assert(stray.forall(k => !store.exists(k)),
      "the orphaned publish's keys are reclaimed")
    assert(spark.table(s"$cat.vt").count() == 500, "live data untouched")
  }

  test("retention + VERSION AS OF: each generation reads back exactly; TIMESTAMP AS OF resolves; mutations against history refuse") {
    val (cat, root, store) = fixture()
    land(root)
    spark.sql(s"CALL $cat.system.set_retention(table => 'vt', retain => true)")
    // gen 1 = the baseline snapshot (the table as retention went on)
    spark.sql(s"UPDATE $cat.vt SET vc = vc + 1000000 WHERE id < 250") // gen 2
    spark.sql(s"DELETE FROM $cat.vt WHERE id >= 400")                 // gen 3
    val base = (0L until 500L).sum
    def sumAt(gen: Long): Long =
      spark.sql(s"SELECT sum(vc) FROM $cat.vt VERSION AS OF $gen")
        .head.getLong(0)
    assert(sumAt(1L) == base, "gen 1: the pre-DML table")
    assert(sumAt(2L) == base + 1000000L * 250L, "gen 2: post-update")
    assert(sumAt(3L) == base + 1000000L * 250L - (400L until 500L).sum)
    assert(spark.table(s"$cat.vt").agg(sum("vc")).head.getLong(0) == sumAt(3L),
      "the current table IS the head generation")
    // option face + hour pruning on a snapshot read
    val viaOpt = spark.read.format("graft-lake").option("table", "vt")
      .option("asOfGeneration", "1").load(root)
    assert(viaOpt.agg(sum("vc")).head.getLong(0) == base)
    // TIMESTAMP AS OF far future = head; before the first commit = error
    assert(spark.sql(
      s"SELECT sum(vc) FROM $cat.vt TIMESTAMP AS OF '2999-01-01 00:00:00'")
      .head.getLong(0) == sumAt(3L))
    val e1 = intercept[Exception] { spark.sql(
      s"SELECT * FROM $cat.vt TIMESTAMP AS OF '1999-01-01 00:00:00'").collect() }
    assert(chainMsg(e1).contains("history"), chainMsg(e1))
    // history is read-only: every mutating face of a VERSION AS OF
    // table refuses (Spark's parser already rejects DML with a
    // time-travel clause; the connector guards its own API too)
    val histTable = new LakeTable(root, "vt", asOfGeneration = Some(1L))
    Seq[LakeTable => Any](
      _.newWriteBuilder(null),
      _.newRowLevelOperationBuilder(null),
      _.truncateTable(),
      _.deleteWhere(Array.empty)
    ).foreach { f =>
      val e2 = intercept[IllegalArgumentException] { f(histTable) }
      assert(e2.getMessage.contains("read-only"), e2.getMessage)
    }
    // CALL history lists the chain newest-first with snapshot flags
    val hist = spark.sql(s"CALL $cat.system.history(table => 'vt')").collect()
    assert(hist.map(_.getLong(0)).toSeq == Seq(3L, 2L, 1L))
    assert(hist.forall(_.getAs[Boolean]("has_snapshot")),
      "every retained gen has a snapshot")
    assert(hist.forall(r => r.getAs[Long]("parent") == r.getAs[Long]("gen") - 1))
  }

  test("expire_versions reclaims history: dropped generations refuse loudly, kept ones still read, reclaimed bytes leave the store") {
    val (cat, root, store) = fixture()
    land(root)
    spark.sql(s"CALL $cat.system.set_retention(table => 'vt', retain => true)")
    spark.sql(s"UPDATE $cat.vt SET vc = vc + 1 WHERE id < 250")  // gen 2
    spark.sql(s"UPDATE $cat.vt SET vc = vc + 1 WHERE id < 250")  // gen 3
    val before = store.list("").count(k =>
      LakeKeys.parseKey(k).exists(_._2 == "vt"))
    assert(before > 2, s"retained history keeps replaced objects: $before")
    val rep = spark.sql(
      s"CALL $cat.system.expire_versions(table => 'vt', keep_last => 2)")
      .collect().head
    assert(rep.getInt(0) >= 1 && rep.getInt(1) >= 1, rep.toSeq.toString)
    val after = store.list("").count(k =>
      LakeKeys.parseKey(k).exists(_._2 == "vt"))
    assert(after < before, "reclaimed objects physically left")
    // kept generations still read exactly; dropped ones refuse loudly
    assert(spark.sql(s"SELECT count(*) FROM $cat.vt VERSION AS OF 3")
      .head.getLong(0) == 500)
    val e = intercept[Exception] { spark.sql(
      s"SELECT * FROM $cat.vt VERSION AS OF 1").collect() }
    assert(chainMsg(e).contains("expire_versions"), chainMsg(e))
    // the current table is untouched by reclamation
    assert(spark.table(s"$cat.vt").agg(sum("vc")).head.getLong(0)
      == (0L until 500L).sum + 2L * 250L)
  }

  test("TAGS name generations: VERSION AS OF 'run-label' resolves, expire_versions keeps tagged history, drop_tag releases it") {
    val (cat, root, store) = fixture()
    land(root)
    spark.sql(s"CALL $cat.system.set_retention(table => 'vt', retain => true)")
    spark.sql(s"UPDATE $cat.vt SET vc = vc + 7 WHERE id < 100") // gen 2
    spark.sql(s"CALL $cat.system.tag(table => 'vt', name => 'run-alpha')")
    spark.sql(s"UPDATE $cat.vt SET vc = vc + 11 WHERE id < 100") // gen 3
    spark.sql(s"UPDATE $cat.vt SET vc = vc + 13 WHERE id < 100") // gen 4
    // the tag reads as the generation it names
    val base = (0L until 500L).sum
    assert(spark.sql(s"SELECT sum(vc) FROM $cat.vt VERSION AS OF 'run-alpha'")
      .head.getLong(0) == base + 7L * 100L)
    // reclamation PINS the tagged generation...
    val rep = spark.sql(
      s"CALL $cat.system.expire_versions(table => 'vt', keep_last => 1)")
      .collect().head
    assert(rep.getInt(0) >= 1, rep.toSeq.toString)
    assert(spark.sql(s"SELECT sum(vc) FROM $cat.vt VERSION AS OF 'run-alpha'")
      .head.getLong(0) == base + 7L * 100L,
      "a tagged corpus survives reclamation")
    intercept[Exception] { spark.sql(
      s"SELECT * FROM $cat.vt VERSION AS OF 1").collect() } // untagged: gone
    // ...until the tag is dropped
    spark.sql(s"CALL $cat.system.drop_tag(table => 'vt', name => 'run-alpha')")
    spark.sql(s"CALL $cat.system.expire_versions(table => 'vt', keep_last => 1)")
    val e = intercept[Exception] { spark.sql(
      s"SELECT * FROM $cat.vt VERSION AS OF 'run-alpha'").collect() }
    assert(chainMsg(e).contains("neither a generation number nor a tag"),
      chainMsg(e))
    // guards: hostile names refuse, unretained generations refuse
    intercept[Exception] {
      LakeVersions.setTag(store, "vt", "../escape", 2L)
    }
    val bare = fixture()
    land(bare._2)
    spark.sql(s"UPDATE ${bare._1}.vt SET vc = 0 WHERE id = 1") // no retention
    val e2 = intercept[Exception] {
      LakeVersions.setTag(bare._3, "vt", "run-beta", 1L)
    }
    assert(e2.getMessage.contains("set_retention"), e2.getMessage)
  }

  test("a LARGE retire self-prunes the chain: the head record's tombstones do not carry the million-key retention pass forever") {
    val root = tempUri("graft-ver-prune")
    val store = new HadoopStore(root)
    import spark.implicits._
    LakeWriter.write(
      (0 until (LakeVersions.PruneChainAbove + 100))
        .map(i => (i.toLong, i.toLong)).toDF("id", "vc").coalesce(1),
      schema, root, Instant.parse("2024-07-01T08:00:00Z"),
      maxRecordsPerObject = 1L)
    val n = LakeReader.listTableKeys(store, "vt", None).size
    assert(n > LakeVersions.PruneChainAbove)
    val rep = LakeMaintenance.expire(store, "vt",
      Instant.parse("2030-01-01T00:00:00Z"))
    assert(rep.deleted == n)
    val st = LakeVersions.listDir(store, "vt")
    val head = LakeVersions.head(store, "vt", st).get
    assert(head.op == "prune" && head.tombstones.isEmpty,
      s"the retention pass must leave a pruned head: ${head.op} " +
        s"tombstones=${head.tombstones.size}")
    // and the small case deliberately does NOT add a second commit
    LakeWriter.write(Seq((1L, 1L)).toDF("id", "vc").coalesce(1),
      schema, root, Instant.parse("2024-07-02T08:00:00Z"))
    LakeMaintenance.expire(store, "vt", Instant.parse("2031-01-01T00:00:00Z"))
    val st2 = LakeVersions.listDir(store, "vt")
    assert(LakeVersions.head(store, "vt", st2).get.op == "expire",
      "a small retire waits for the next commit's maintenance")
  }

  test("generation records round-trip exactly (seeded randomized), and torn prefixes parse as ABSENT, never as wrong data") {
    val root = tempUri("graft-ver-wire")
    val store = new HadoopStore(root)
    val rnd = new scala.util.Random(20260815L)
    def key() = f"2024/07/${1 + rnd.nextInt(28)}%02d/${rnd.nextInt(24)}%02d/" +
      s"vt/${new java.util.UUID(rnd.nextLong(), rnd.nextLong())}" +
      (if (rnd.nextBoolean()) ".csv.gz" else ".csv")
    for (i <- 1 to 50) {
      val rec = LakeVersions.GenRecord("vt", i.toLong, i - 1L,
        Seq("update", "delete", "merge", "compact", "overwrite")(rnd.nextInt(5)),
        if (rnd.nextBoolean()) Some(java.util.UUID.randomUUID().toString) else None,
        Seq.fill(rnd.nextInt(5))(key()), Seq.fill(rnd.nextInt(5))(key()),
        Seq.fill(rnd.nextInt(3))(key()), Seq.fill(rnd.nextInt(8))(key()),
        if (rnd.nextBoolean()) Some(Seq.fill(rnd.nextInt(10))(key()).sorted)
        else None,
        at = math.abs(rnd.nextLong()) % 4102444800000L,
        // the r16 optional sections: sources, the delete-vector map,
        // the pinned schema version — omitted half the time so both
        // wire shapes (with and without) round-trip
        sources = Seq.fill(rnd.nextInt(3))(key()),
        dvs = Seq.fill(rnd.nextInt(4))(key() ->
          LakeVersions.DvRef(s"_dv/vt/${java.util.UUID.randomUUID()}.dv.gz",
            1L + rnd.nextInt(100000))).toMap,
        schemaV = if (rnd.nextBoolean()) Some(rnd.nextInt(5).toLong) else None,
        // the r18 cross-table transaction marker — omitted most of the
        // time (single-table commits never carry it)
        txn = if (rnd.nextInt(4) == 0)
          Some(java.util.UUID.randomUUID().toString) else None)
      // write through the same wire as commit() does
      LakeVersions.writeRecord(store, LakeVersions.genKey("vt", i.toLong), rec)
      assert(LakeVersions.readRecord(store, "vt", i.toLong).contains(rec),
        s"round-trip at gen $i")
      // every strict PREFIX of the gzip bytes is torn: parses as absent
      if (i <= 3) {
        val in = store.open(LakeVersions.genKey("vt", i.toLong))
        val whole = try in.readAllBytes() finally in.close()
        for (cut <- Seq(1, whole.length / 2, whole.length - 1)) {
          val out = store.create(LakeVersions.genKey("vt", 999L))
          out.write(whole.take(cut)); out.close()
          assert(LakeVersions.readRecord(store, "vt", 999L).isEmpty,
            s"torn prefix $cut of ${whole.length} must read as absent")
        }
        store.delete(LakeVersions.genKey("vt", 999L))
      }
    }
  }

  test("intents round-trip exactly — v1 lists and v2 branch state (seeded randomized); torn prefixes parse as ABSENT") {
    val root = tempUri("graft-intent-wire")
    val store = new HadoopStore(root)
    val rnd = new scala.util.Random(20260816L)
    def key() = f"2024/07/${1 + rnd.nextInt(28)}%02d/${rnd.nextInt(24)}%02d/" +
      s"it/${new java.util.UUID(rnd.nextLong(), rnd.nextLong())}.csv"
    for (i <- 1 to 40) {
      val id = s"audit-x$i"
      val branch =
        if (rnd.nextBoolean()) None
        else Some(LakeVersions.BranchState(
          batch = Seq.fill(1 + rnd.nextInt(4))(key()),
          repl = Seq.fill(rnd.nextInt(4))(key()),
          removed = Seq.fill(rnd.nextInt(4))(key() ->
            (if (rnd.nextBoolean())
              Some(s"_dv/it/${java.util.UUID.randomUUID()}.dv.gz")
            else None)),
          eqBasis = Seq.fill(rnd.nextInt(3))(
            s"_eqdel/it/${java.util.UUID.randomUUID()}.eq.gz")))
      val keys = branch.fold(Seq.fill(1 + rnd.nextInt(6))(key()))(b =>
        b.batch ++ b.repl)
      LakeVersions.writeIntent(store, "it", id, keys, branch)
      val got = LakeVersions.readIntentFull(store, "it", id)
      assert(got.map(_._1.sorted).contains(keys.sorted), s"keys at $i")
      assert(got.flatMap(_._2) == branch, s"branch state at $i")
      // torn prefixes: ABSENT or the exact complete content (a cut in
      // the gzip trailer can still deliver every decompressed byte —
      // and every section is count-prefixed, so a PARTIAL list can
      // never parse as complete) — never wrong data
      if (i <= 3) {
        val in = store.open(LakeVersions.intentKey("it", id))
        val whole = try in.readAllBytes() finally in.close()
        for (cut <- Seq(1, whole.length / 2, whole.length - 1)) {
          val out = store.create(LakeVersions.intentKey("it", "torn"))
          out.write(whole.take(cut)); out.close()
          val torn = LakeVersions.readIntentFull(store, "it", "torn")
          assert(torn.isEmpty ||
            (torn.get._1.sorted == keys.sorted && torn.get._2 == branch),
            s"torn prefix $cut of ${whole.length} must read absent or " +
              s"complete, got $torn")
        }
        store.delete(LakeVersions.intentKey("it", "torn"))
      }
    }
  }

  private def chainMsg(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")

  test("delta-encoded retention: a 200-commit chain writes O(change) records, reads any generation in O(checkpoint + tail), and expire re-checkpoints") {
    // round 17, the scale fix for "every retained commit writes O(live
    // objects) metadata": the chain below appends one object per commit
    // — with full-snapshot records the Nth record would name N keys;
    // with delta encoding it names ONE, and only every
    // LiveCheckpointEvery-th generation materializes the full list.
    val (_, root, store) = fixture()
    val hour = "2024/07/01/08"
    def fakeObject(i: Int): String = {
      val k = f"$hour/dt/${java.util.UUID.randomUUID()}.csv"
      val out = store.create(k)
      out.write(s"#INTEGER\nid\n$i\n".getBytes("UTF-8")); out.close()
      k
    }
    LakeVersions.setRetain(store, "dt", retain = true) // needs an object? no: commit lists keys
    val expectAt = scala.collection.mutable.Map.empty[Long, Set[String]]
    var liveNow = Set.empty[String]
    for (i <- 1 to 200) {
      liveNow += fakeObject(i)
      val rec = LakeVersions.commit(store, "dt", op = "test", removed = Nil,
        validateLive = false)
      expectAt(rec.gen) = liveNow
    }
    val gens = LakeVersions.listDir(store, "dt").gens
    val recs = gens.flatMap(g => LakeVersions.readRecord(store, "dt", g))
    val deltas = recs.filter(r => r.live.isEmpty && r.appended.isDefined)
    val checkpoints = recs.filter(_.live.isDefined)
    assert(deltas.size > 150 && checkpoints.size <= 1 + gens.size / 32 + 1,
      s"most records must be deltas: ${deltas.size} deltas, " +
        s"${checkpoints.size} checkpoints of ${gens.size}")
    // a LATE delta record stays O(change)-sized even though the table
    // holds ~200 objects by then
    assert(deltas.last.appended.get.size <= 2,
      "a delta record names the commit's change, not the table")
    // any generation resolves exactly, in O(checkpoint + tail) record
    // reads — metered via store ops, never a data listing
    for (g <- Seq(5L, 37L, 63L, 100L, 160L, 199L)) {
      val ops0 = StoreOps.reads.get + StoreOps.lists.get
      val got = LakeVersions.liveAt(store, "dt", g).toSet
      val ops = StoreOps.reads.get + StoreOps.lists.get - ops0
      assert(got == expectAt(g), s"gen $g live set drifted (${got.size} vs ${expectAt(g).size})")
      assert(ops <= LakeVersions.LiveCheckpointEvery + 8,
        s"liveAt(gen $g) must stay O(checkpoint + tail): $ops store ops")
    }
    // expire past a checkpoint boundary: kept deltas re-checkpoint so
    // their ancestors can drop; every kept generation still reads exact
    val rep = LakeVersions.expireVersions(store, "dt", keepLast = 10)
    assert(rep.recordsDropped > 150, rep.toString)
    for (g <- 192L to 201L)
      assert(LakeVersions.liveAt(store, "dt", g).toSet == expectAt(g),
        s"gen $g must survive expire exactly")
    intercept[IllegalArgumentException] {
      LakeVersions.liveAt(store, "dt", 100L)
    }
  }
}
