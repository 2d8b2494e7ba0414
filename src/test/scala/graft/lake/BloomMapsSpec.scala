package graft.lake

import graft.SparkSuite
import graft.types.{ColType, TableSchema}

import java.time.Instant

import org.apache.spark.sql.functions._

class BloomMapsSpec extends SparkSuite {

  private def freshRoot() = tempUri("graft-bloom-spec")

  private val schema = TableSchema("bt", Seq(
    "id" -> ColType.CInteger, "tag" -> ColType.CString))

  /** 1000 rows in 4 tag-clustered objects: tags t0..t3 land in objects
    * 0..3 respectively (ordered single-partition write rolled at 250). */
  private def fixture(root: String, bloom: Boolean = true): Seq[LakeWriter.WrittenObject] = {
    import spark.implicits._
    val df = (0 until 1000).map(i => (i.toLong, s"t${i / 250}"))
      .toDF("id", "tag").orderBy("id").coalesce(1)
    LakeWriter.write(df, schema, root, Instant.parse("2024-06-10T08:00:00Z"),
      maxRecordsPerObject = 250L,
      bloomColumns = if (bloom) Seq("tag") else Nil)
  }

  test("tracker → render → parse round-trips exactly; torn or corrupt reads as None") {
    import BloomMaps._
    val t = new Tracker(schema, Seq("tag"), m = 1024, k = 3)
    t.observe(Array[Any](1L, "alpha"))
    t.observe(Array[Any](2L, "beta"))
    t.observe(Array[Any](3L, null)) // nulls never insert
    t.observe(Array[Any](4L, ""))   // "" round-trips as null: never inserts
    val b = t.result()
    assert(b.records == 4)
    val text = render(b)
    assert(parse(text).contains(b), s"canonical form must parse: $text")
    // a torn prefix must NOT parse — a truncated base64 could decode to a
    // valid-looking bit array that wrongly SKIPS
    for (cut <- Seq(10, text.length / 2, text.length - 1))
      assert(parse(text.take(cut)).isEmpty, s"torn at $cut must refuse")
    assert(parse(text + " ").isEmpty)
    assert(parse("garbage").isEmpty)
    // corrupt-but-canonical shapes violating the Tracker's invariants
    // must read as None, not crash the probe later (hash % 0, bit index
    // past the array)
    assert(parse("""{"records":1,"cols":{"tag":{"m":0,"k":1,"bits":""}}}""").isEmpty)
    assert(parse("""{"records":1,"cols":{"tag":{"m":128,"k":0,"bits":"AAAAAAAAAAAAAAAAAAAAAA=="}}}""").isEmpty)
    assert(parse("""{"records":1,"cols":{"tag":{"m":12,"k":1,"bits":"AA=="}}}""").isEmpty)
    val cb = b.cols("tag")
    assert(cb.mightContain("alpha") && cb.mightContain("beta"))
    // the never-inserted values: the filter is sparse enough (2 values in
    // 1024 bits) that absent probes must miss
    val fp = (0 until 1000).count(i => cb.mightContain(s"absent-$i"))
    assert(fp <= 5, s"false-positive rate implausibly high: $fp/1000")
    // null/"" were never inserted
    assert(!cb.mightContain(""))
  }

  test("readPrunedEq opens only bloom-positive objects; exact rows survive") {
    val root = freshRoot()
    fixture(root)
    val store = new HadoopStore(root)
    assert(store.list(ZoneMaps.Prefix).count(_.endsWith(".bloom")) == 4,
      "one bloom sidecar per object")
    val (df, rep) = LakeReader.readPrunedEq(spark, root, "bt", "tag", "t2")
    assert(rep.candidates == 4 && rep.kept == 1,
      s"equality probe must keep exactly the tag-t2 object: $rep")
    assert(df.filter(col("tag") === "t2").count() == 250)
    // a value in NO object: everything skips, empty typed frame
    val (empty, rep2) = LakeReader.readPrunedEq(spark, root, "bt", "tag", "nope")
    assert(rep2.kept == 0 && empty.count() == 0)
    assert(empty.columns.contains("tag") && empty.columns.contains("_event_hour"))
    // the probe hashes the WIRE form: an INTEGER probe works identically
    val (dfi, repi) = LakeReader.readPrunedEq(spark, root, "bt", "id", 600L)
    // id is not a bloom column → untracked → conservative keep-all
    assert(repi.kept == 4, s"untracked column must keep all: $repi")
    assert(dfi.filter(col("id") === 600L).count() == 1)
  }

  test("missing or torn bloom keeps its object conservatively; driver ≡ distributed walk") {
    val root = freshRoot()
    val written = fixture(root)
    val store = new HadoopStore(root)
    // object 1 (t0): delete the bloom; object 2 (t1): tear it
    store.delete(BloomMaps.bloomKey(written.head.key))
    val zk = BloomMaps.bloomKey(written(1).key)
    val whole = {
      val in = store.open(zk)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    val out = store.create(zk)
    out.write(whole.take(whole.length / 2).getBytes("UTF-8")); out.close()
    val (_, rep) = LakeReader.readPrunedEq(spark, root, "bt", "tag", "t3")
    // t3's own object + the two conservatively-kept ones
    assert(rep.kept == 3, s"missing+torn blooms must keep their objects: $rep")
    // the distributed walk (forced) must keep the identical set
    val (_, repD) = KeyWalk.pinned(KeyWalk.OnExecutors())(
      LakeReader.readPrunedEq(spark, root, "bt", "tag", "t3"))
    assert(repD == rep, s"walks must agree: $rep vs $repD")
  }

  test("point probe composes bloom + zone-map band: integer equality prunes via stats sidecars") {
    import spark.implicits._
    val root = freshRoot()
    // zoneMaps AND blooms: id-ordered objects give disjoint integer bands
    val df = (0 until 1000).map(i => (i.toLong, s"t${i / 250}"))
      .toDF("id", "tag").orderBy("id").coalesce(1)
    LakeWriter.write(df, schema, root, Instant.parse("2024-06-10T08:00:00Z"),
      maxRecordsPerObject = 250L, zoneMaps = true, bloomColumns = Seq("tag"))
    // id is NOT a bloom column, but it IS zone-map tracked: the [v,v]
    // band keeps exactly the one object whose range holds 600
    val (dfi, repi) = LakeReader.readPrunedEq(spark, root, "bt", "id", 600L)
    assert(repi.kept == 1, s"integer point probe must band-prune: $repi")
    assert(dfi.filter(col("id") === 600L).count() == 1)
    // a string probe still prunes via the bloom on the same lake
    val (_, reps) = LakeReader.readPrunedEq(spark, root, "bt", "tag", "t1")
    assert(reps.kept == 1, s"string point probe must bloom-prune: $reps")
    // an out-of-range integer skips everything
    val (_, rep0) = LakeReader.readPrunedEq(spark, root, "bt", "id", 5000L)
    assert(rep0.kept == 0)
    // CONJUNCTION of probes, one sidecar read per kind: tag=t1 lives in
    // object [250,499] while id=600 lives in [500,749] — individually
    // each keeps one object, together they keep NOTHING; the consistent
    // pair keeps exactly its shared object
    val (dfm, repM) = LakeReader.readPrunedEqMulti(spark, root, "bt",
      Seq(("tag", "t1"), ("id", 600L)))
    assert(repM.kept == 0 && dfm.count() == 0,
      s"contradictory conjunction must skip everything: $repM")
    val (dfc, repC) = LakeReader.readPrunedEqMulti(spark, root, "bt",
      Seq(("tag", "t2"), ("id", 600L)))
    assert(repC.kept == 1, s"consistent conjunction keeps the shared object: $repC")
    assert(dfc.filter(col("tag") === "t2" && col("id") === 600L).count() == 1)
  }

  test("probe box never causes a wrong skip: numerically-equal probes find differently-boxed writes") {
    import spark.implicits._
    val root = freshRoot()
    // id: CInteger written from Longs (wire "600"); fv: CFloat written
    // from DOUBLES (wire "3.0" etc.) — both bloom-indexed
    val sch = TableSchema("bx", Seq(
      "id" -> ColType.CInteger, "fv" -> ColType.CFloat))
    val df = (0 until 1000).map(i => (i.toLong, (i / 250).toDouble))
      .toDF("id", "fv").orderBy("id").coalesce(1)
    LakeWriter.write(df, sch, root, Instant.parse("2024-06-10T08:00:00Z"),
      maxRecordsPerObject = 250L, bloomColumns = Seq("id", "fv"))
    // a Double-boxed probe of the Long-written integer column: the raw
    // wire "600.0" is not what the writer inserted — the whole-number
    // wire form must still find it
    val (d1, r1) = LakeReader.readPrunedEq(spark, root, "bx", "id",
      java.lang.Double.valueOf(600.0))
    assert(r1.kept >= 1 && d1.filter(col("id") === 600.0).count() == 1,
      s"double-boxed integer probe must not wrongly skip: $r1")
    // an Integer-boxed probe of the Double-written float column (wire
    // "2" vs stored "2.0")
    val (d2, r2) = LakeReader.readPrunedEq(spark, root, "bx", "fv",
      java.lang.Integer.valueOf(2))
    assert(r2.kept >= 1 && d2.filter(col("fv") === 2).count() == 250,
      s"integer-boxed float probe must not wrongly skip: $r2")
    // and a value in NO object still skips everything under every box
    val (_, r3) = LakeReader.readPrunedEq(spark, root, "bx", "fv",
      java.lang.Double.valueOf(99.5))
    assert(r3.kept == 0, s"absent value must skip under any box: $r3")
  }

  test("blooms ride compaction; retention retires them with their objects") {
    val root = freshRoot()
    fixture(root)
    val store = new HadoopStore(root)
    val rep = LakeMaintenance.compact(spark, store, "bt",
      targetRecords = 500L, bloomColumns = Seq("tag"))
    assert(rep.newObjects < rep.oldObjects)
    val live = LakeReader.listTableKeys(store, "bt", None)
    assert(store.list(ZoneMaps.Prefix).count(_.endsWith(".bloom")) == live.size,
      "compacted objects must carry fresh blooms; old blooms retired")
    // the rewritten blooms stay CORRECT (compaction's repartition mixes
    // tags across objects, so no tightness is promised — the fresh
    // blooms honestly report every object now containing t0 — but a
    // value in NO object must still skip everything, and exact rows
    // survive)
    val (df, rep2) = LakeReader.readPrunedEq(spark, root, "bt", "tag", "t0")
    assert(rep2.kept >= 1 && df.filter(col("tag") === "t0").count() == 250)
    val (_, repNone) = LakeReader.readPrunedEq(spark, root, "bt", "tag", "nope")
    assert(repNone.kept == 0,
      s"compacted blooms must still skip a value present nowhere: $repNone")
    // retention: everything is old → blooms go with the objects
    val er = LakeMaintenance.expire(store, "bt", Instant.parse("2024-06-11T00:00:00Z"))
    assert(er.deleted == live.size)
    assert(store.list(ZoneMaps.Prefix).isEmpty,
      "no orphan sidecars of either kind after expiry")
  }

  test("buildIndex back-fills blooms on an EXISTING lake; probes then prune like writer-time blooms") {
    val root = freshRoot()
    fixture(root, bloom = false) // 4 tag-clustered objects, NO sidecars
    val store = new HadoopStore(root)
    assert(store.list(ZoneMaps.Prefix).isEmpty)
    // without an index every probe conservatively keeps everything
    val (_, before) = LakeReader.readPrunedEq(spark, root, "bt", "tag", "t2")
    assert(before.kept == 4, s"no blooms yet — keep all: $before")
    // CREATE INDEX: one distributed pass, no data rewritten
    val dataBytes = LakeReader.listTableKeys(store, "bt", None).sorted
    assert(BloomMaps.buildIndex(spark, root, "bt", Seq("tag", "id")) == 4)
    assert(store.list(ZoneMaps.Prefix).count(_.endsWith(".bloom")) == 4)
    assert(LakeReader.listTableKeys(store, "bt", None).sorted == dataBytes,
      "index build must not touch data objects")
    // string probe prunes to the one tag-t2 object, rows exact
    val (df, rep) = LakeReader.readPrunedEq(spark, root, "bt", "tag", "t2")
    assert(rep.kept == 1, s"back-filled bloom must prune: $rep")
    assert(df.filter(col("tag") === "t2").count() == 250)
    // read-back-box parity: the index hashed LongType boxes; a Long AND
    // a Double probe must both find id=600 (and the absent stays absent)
    val (_, rl) = LakeReader.readPrunedEq(spark, root, "bt", "id", 600L)
    val (_, rd) = LakeReader.readPrunedEq(spark, root, "bt", "id", 600.0)
    assert(rl.kept == 1 && rd.kept == 1, s"box must not matter: $rl / $rd")
    val (_, rn) = LakeReader.readPrunedEq(spark, root, "bt", "tag", "nope")
    assert(rn.kept == 0)
    // rebuild overwrites in place (idempotent maintenance)
    assert(BloomMaps.buildIndex(spark, root, "bt", Seq("tag")) == 4)
    val (_, rep2) = LakeReader.readPrunedEq(spark, root, "bt", "tag", "t2")
    assert(rep2.kept == 1)
  }

  test("buildIndex seeds header-only objects: back-filled index ≡ writer-time pruning object-for-object") {
    val root = freshRoot()
    fixture(root, bloom = false)
    val store = new HadoopStore(root)
    // a header-only (0-record) object: a write-time tracker gives it an
    // always-skip empty filter, so the back-fill must too — an object
    // that yields NO rows otherwise gets no aggregateByKey entry, no
    // sidecar, and every probe keeps it forever
    val emptyKey = LakeKeys.objectKey("bt",
      Instant.parse("2024-06-10T09:00:00Z"), java.util.UUID.randomUUID(), gzip = true)
    val out = new java.util.zip.GZIPOutputStream(store.create(emptyKey))
    out.write("#INTEGER,STRING\nid,tag\n".getBytes("UTF-8")); out.close()
    assert(LakeReader.listTableKeys(store, "bt", None).size == 5)
    assert(BloomMaps.buildIndex(spark, root, "bt", Seq("tag")) == 5)
    assert(store.list(ZoneMaps.Prefix).count(_.endsWith(".bloom")) == 5,
      "EVERY listed object gets a sidecar, including the 0-record one")
    // byte-identical to what the write-time tracker emits for 0 records
    val writeTime = {
      val t = new BloomMaps.Tracker(schema, Seq("tag"),
        BloomMaps.DefaultBits, BloomMaps.DefaultHashes)
      BloomMaps.render(t.result())
    }
    val onDisk = {
      val in = store.open(BloomMaps.bloomKey(emptyKey))
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    assert(onDisk == writeTime,
      "back-filled 0-record sidecar must equal the writer-time sidecar")
    // so the point probe SKIPS the empty object: 1 of 5 kept, rows exact
    val (df, rep) = LakeReader.readPrunedEq(spark, root, "bt", "tag", "t2")
    assert(rep.candidates == 5 && rep.kept == 1,
      s"the 0-record object must skip, not conservatively keep: $rep")
    assert(df.filter(col("tag") === "t2").count() == 250)
  }

  test("a whole double beyond 2^53 still probes the integral wire form (no wrong skip)") {
    import spark.implicits._
    val root = freshRoot()
    val sch = TableSchema("big", Seq(
      "id" -> ColType.CInteger, "tag" -> ColType.CString))
    // the long-boxed 10^16 row (wire "10000000000000000") lands in the
    // second object of the ordered rolled write
    val df = ((0 until 499).map(i => (i.toLong, "small")) :+
        (10000000000000000L, "big"))
      .toDF("id", "tag").orderBy("id").coalesce(1)
    LakeWriter.write(df, sch, root, Instant.parse("2024-06-10T08:00:00Z"),
      maxRecordsPerObject = 250L, bloomColumns = Seq("id"))
    // Double 1.0E16 is whole and exactly 10^16 but raw-formats as
    // "1.0E16" — only the integral wire form finds the long-written row
    // (whole doubles in (2^53, 2^63) are still exact longs)
    val (d, r) = LakeReader.readPrunedEq(spark, root, "big", "id",
      java.lang.Double.valueOf(1.0e16))
    assert(r.kept >= 1, s"whole double beyond 2^53 must not wrongly skip: $r")
    assert(d.filter(col("id") === 10000000000000000L).count() == 1)
    // an absent beyond-2^53 value still skips everything
    val (_, r2) = LakeReader.readPrunedEq(spark, root, "big", "id",
      java.lang.Double.valueOf(2.0e16))
    assert(r2.kept == 0, s"absent huge value must still skip: $r2")
  }

  test("buildIndex onlyMissing: indexes exactly the sidecar-less objects, never re-reads indexed ones") {
    val root = freshRoot()
    fixture(root) // writer-time blooms on all 4 objects
    val store = new HadoopStore(root)
    val keys = LakeReader.listTableKeys(store, "bt", None).sorted
    // delete one sidecar (missing), corrupt another (present-but-torn)
    store.delete(BloomMaps.bloomKey(keys(1)))
    val out = store.create(BloomMaps.bloomKey(keys(2)))
    out.write("garbage".getBytes("UTF-8")); out.close()
    // incremental: exactly ONE object is missing → one indexed
    assert(BloomMaps.buildIndex(spark, root, "bt", Seq("tag"),
      onlyMissing = true) == 1)
    val healed = BloomMaps.read(store, keys(1))
    assert(healed.exists(_.records == 250), s"missing sidecar rebuilt: $healed")
    // the present-but-torn sidecar is NOT missing: untouched, still torn
    // (healing suspected-torn sidecars is the full build's contract)
    assert(BloomMaps.read(store, keys(2)).isEmpty,
      "onlyMissing must not touch an existing (even torn) sidecar")
    // nothing missing now → zero work
    assert(BloomMaps.buildIndex(spark, root, "bt", Seq("tag"),
      onlyMissing = true) == 0)
    // the full build heals the torn one too
    assert(BloomMaps.buildIndex(spark, root, "bt", Seq("tag")) == 4)
    assert(BloomMaps.read(store, keys(2)).exists(_.records == 250))
  }

  test("readPrunedEqAny: disjunction keeps the union of per-value kept sets; driver ≡ distributed") {
    val root = freshRoot()
    val written = fixture(root)
    // two values in two distinct objects → exactly those two kept
    val (df, rep) = LakeReader.readPrunedEqAny(spark, root, "bt", "tag",
      Seq("t1", "t3"))
    assert(rep.candidates == 4 && rep.kept == 2,
      s"IN-list probe must keep exactly the t1 and t3 objects: $rep")
    assert(df.filter(col("tag").isin("t1", "t3")).count() == 500)
    // no value present anywhere → everything skips
    val (_, none) = LakeReader.readPrunedEqAny(spark, root, "bt", "tag",
      Seq("nope", "also-nope"))
    assert(none.kept == 0)
    // distributed walk keeps the identical set
    val (_, repD) = KeyWalk.pinned(KeyWalk.OnExecutors())(
      LakeReader.readPrunedEqAny(spark, root, "bt", "tag", Seq("t1", "t3")))
    assert(repD == rep, s"walks must agree: $rep vs $repD")
    // a torn bloom keeps its object under the disjunction too
    val store = new HadoopStore(root)
    store.delete(BloomMaps.bloomKey(written.head.key))
    val (_, cons) = LakeReader.readPrunedEqAny(spark, root, "bt", "tag",
      Seq("t3"))
    assert(cons.kept == 2, s"bloom-less object must stay kept: $cons")
    // null/"" probe values refuse loudly (the wire round-trip rule)
    intercept[IllegalArgumentException] {
      LakeReader.readPrunedEqAny(spark, root, "bt", "tag", Seq("t1", null))
    }
  }

  test("lakeSemiJoin: dim-driven object pruning + exact bounded-broadcast semi-join") {
    import spark.implicits._
    val root = freshRoot()
    fixture(root) // ids 0..999 in 4 id-ordered objects, tag blooms
    // dimension: ids 100, 150 (object 0) and 600 (object 2) + a null
    // (matches nothing) + a duplicate (distinct-folded)
    val dim = Seq(Some(100L), Some(150L), Some(600L), None, Some(100L))
      .toDF("k")
    val (df, rep) = LakeReader.lakeSemiJoin(spark, root, "bt", "id",
      dim, "k")
    // id is not bloom-indexed in this fixture → conservative keep-all at
    // the object level, but the exact semi-join still returns exact rows
    assert(rep.candidates == 4)
    val rows = df.select("id").collect().map(_.getLong(0)).sorted
    assert(rows.toSeq == Seq(100L, 150L, 600L), s"exact semi-join rows: ${rows.toSeq}")
    // the exact side is a BROADCAST semi-join of the bounded key list
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"bounded key-list must broadcast-semi-join:\n$plan")
    // bloom-indexed column: the probe actually prunes objects
    val (df2, rep2) = LakeReader.lakeSemiJoin(spark, root, "bt", "tag",
      Seq("t0", "t2").toDF("tag_k"), "tag_k")
    assert(rep2.kept == 2, s"tag keys must prune to their two objects: $rep2")
    assert(df2.count() == 500)
    // over-bound dimension raises with the remedy, never degrades
    val big = (0 until 50).map(i => s"k$i").toDF("tag_k")
    val e = intercept[IllegalStateException] {
      LakeReader.lakeSemiJoin(spark, root, "bt", "tag", big, "tag_k",
        maxDimKeys = 10)
    }
    assert(e.getMessage.contains("maxDimKeys") ||
      e.getMessage.contains("distinct join keys"))
    // empty dimension (or all-null) semi-joins to nothing, honestly
    val (emptyDf, rep3) = LakeReader.lakeSemiJoin(spark, root, "bt", "tag",
      Seq.empty[String].toDF("tag_k"), "tag_k")
    assert(rep3.kept == 0 && emptyDf.count() == 0)
    val (nullDf, rep4) = LakeReader.lakeSemiJoin(spark, root, "bt", "tag",
      Seq[Option[String]](None, None).toDF("tag_k"), "tag_k")
    assert(rep4.kept == 0 && nullDf.count() == 0)
  }

  test("lakeSemiJoin: probe bound decoupled from join strategy — a 100k-key dim prunes, the join flips to shuffle") {
    import spark.implicits._
    val root = freshRoot()
    fixture(root)
    // 100k distinct keys on the bloom-indexed column: 2 real tags + 99 998
    // absent ones — way past broadcastKeysUpTo (so no forced broadcast)
    // but under the default maxDimKeys probe bound (so no raise): the
    // object prune must still run and keep exactly the two real-tag
    // objects (hashing is deterministic, and at 250 values per 65536-bit
    // filter the false-positive mass over 100k probes is negligible).
    val big = (Seq("t0", "t2") ++ (0 until 99998).map(i => s"absent-$i"))
      .toDF("tag_k")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (df, rep) = LakeReader.lakeSemiJoin(spark, root, "bt", "tag",
        big, "tag_k")
      assert(rep.candidates == 4 && rep.kept == 2,
        s"a 100k-key probe must still prune to the two real-tag objects: $rep")
      assert(df.count() == 500)
      val shufflePlan = df.queryExecution.executedPlan.toString
      assert(!shufflePlan.contains("BroadcastHashJoin") &&
        shufflePlan.contains("LeftSemi"),
        s"above broadcastKeysUpTo the exact join must NOT force a broadcast " +
          s"(Catalyst owns the strategy, and auto-broadcast is off here):\n$shufflePlan")
      // the same dim AT the strategy bound: the key list is proven
      // broadcast-sized, so the join is a forced bounded broadcast even
      // with auto-broadcast disabled — the strategy flip is the bound's
      val (df2, rep2) = LakeReader.lakeSemiJoin(spark, root, "bt", "tag",
        big, "tag_k", broadcastKeysUpTo = 100000)
      assert(rep2 == rep, s"the prune is strategy-independent: $rep vs $rep2")
      val bPlan = df2.queryExecution.executedPlan.toString
      assert(bPlan.contains("BroadcastHashJoin") && bPlan.contains("LeftSemi"),
        s"at/below broadcastKeysUpTo the bounded key list broadcasts:\n$bPlan")
      assert(df2.count() == 500)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("composite probes: conjunction kept-set within each column's kept-set; pair-exactness is the join's") {
    import spark.implicits._
    val root = freshRoot()
    // 1000 rows, 4 id-ordered objects of 250; tag = "a" on ids [0,500),
    // "b" on [500,1000) — id bands AND tag blooms prune on different axes
    val sch = TableSchema("bt2", Seq(
      "id" -> ColType.CInteger, "tag" -> ColType.CString))
    val df = (0 until 1000).map(i => (i.toLong, if (i < 500) "a" else "b"))
      .toDF("id", "tag").orderBy("id").coalesce(1)
    LakeWriter.write(df, sch, root, Instant.parse("2024-06-10T09:00:00Z"),
      maxRecordsPerObject = 250L, zoneMaps = true,
      bloomColumns = Seq("id", "tag"))
    // per-column kept sets: id∈{100,600} keeps objects 0 and 2;
    // tag∈{b} keeps objects 2 and 3
    val (_, idRep) = LakeReader.readPrunedEqAnyMulti(spark, root, "bt2",
      Seq(("id", Seq(100L, 600L))))
    val (_, tagRep) = LakeReader.readPrunedEqAnyMulti(spark, root, "bt2",
      Seq(("tag", Seq("b"))))
    assert(idRep.kept == 2 && tagRep.kept == 2, s"$idRep / $tagRep")
    // the conjunction keeps only their intersection — object 2
    val (conjDf, conjRep) = LakeReader.readPrunedEqAnyMulti(spark, root, "bt2",
      Seq(("id", Seq(100L, 600L)), ("tag", Seq("b"))))
    assert(conjRep.kept == 1,
      s"conjunction ⊆ each column's kept-set (here: their intersection): $conjRep")
    assert(conjDf.filter(col("id").isin(100L, 600L) && col("tag") === "b")
      .count() == 1) // only (600, b) exists
    // conservative by construction: per-column hits with NO existing pair
    // still keep objects (blooms are column-independent) — and the exact
    // composite join rejects every row
    val dim = Seq((100L, "b"), (600L, "a")).toDF("k_id", "k_tag")
    val (semiDf, semiRep) = LakeReader.lakeSemiJoinMulti(spark, root, "bt2",
      Seq(("id", "k_id"), ("tag", "k_tag")), dim)
    assert(semiRep.kept == 2,
      s"value-wise hits keep objects 0 and 2 despite absent pairs: $semiRep")
    assert(semiDf.count() == 0, "no PAIR exists — the exact join decides rows")
    // real pairs: (600, b) and (100, a) both exist → exactly those rows
    val dim2 = Seq((600L, "b"), (100L, "a"), (100L, "a")).toDF("k_id", "k_tag")
    val (semi2, rep2) = LakeReader.lakeSemiJoinMulti(spark, root, "bt2",
      Seq(("id", "k_id"), ("tag", "k_tag")), dim2)
    assert(rep2.kept == 2)
    assert(semi2.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(100L, 600L))
    // a dim row with ANY null key column matches nothing and is dropped
    val dim3 = Seq((Some(600L), Some("b")), (Some(999L), None), (None, Some("a")))
      .toDF("k_id", "k_tag")
    val (semi3, _) = LakeReader.lakeSemiJoinMulti(spark, root, "bt2",
      Seq(("id", "k_id"), ("tag", "k_tag")), dim3)
    assert(semi3.select("id").collect().map(_.getLong(0)).toSeq == Seq(600L))
    // duplicate lake or dim columns refuse loudly
    intercept[IllegalArgumentException] {
      LakeReader.lakeSemiJoinMulti(spark, root, "bt2",
        Seq(("id", "k_id"), ("id", "k_tag")), dim2)
    }
  }

  test("a failed write attempt deletes its partial blooms with its objects") {
    import spark.implicits._
    val root = freshRoot()
    // a poison row that throws mid-write (null into a non-nullable long
    // via rdd row access won't throw — use a udf that throws instead)
    val boom = udf((i: Long) => {
      if (i == 700L) throw new RuntimeException("planted write failure")
      s"t${i / 250}"
    })
    val df = (0 until 1000).map(_.toLong).toDF("id")
      .withColumn("tag", boom(col("id"))).orderBy("id").coalesce(1)
    intercept[Exception] {
      LakeWriter.write(df, schema, root, Instant.parse("2024-06-10T08:00:00Z"),
        maxRecordsPerObject = 250L, bloomColumns = Seq("tag"))
    }
    val store = new HadoopStore(root)
    assert(LakeReader.listTableKeys(store, "bt", None).isEmpty,
      "failed attempt must leave no data objects")
    assert(store.list(ZoneMaps.Prefix).isEmpty,
      "failed attempt must leave no bloom sidecars")
  }
}
