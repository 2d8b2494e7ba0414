package graft.lake

import graft.SparkSuite
import graft.types.{ColType, TableSchema}

import java.math.BigDecimal
import java.time.Instant

import org.apache.spark.sql.functions._

class ZoneMapsSpec extends SparkSuite {

  private def freshRoot() = tempUri("graft-zmap-spec")

  private val schema = TableSchema("zt", Seq(
    "id" -> ColType.CInteger, "v" -> ColType.CFloat,
    "ts" -> ColType.CTime, "tag" -> ColType.CString))

  private def dec(l: Long) = BigDecimal.valueOf(l)

  /** Tear a sidecar to a valid prefix of itself — the torn-writer /
    * ranged-GET-cutoff fixture every strict-parse case pins. */
  private def tear(store: Store, dataKey: String): Unit = {
    val zk = ZoneMaps.statsKey(dataKey)
    val whole = {
      val in = store.open(zk)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    val out = store.create(zk)
    try out.write(whole.take(whole.length / 2).getBytes("UTF-8")) finally out.close()
  }

  private def fixture(root: String): Seq[LakeWriter.WrittenObject] = {
    import spark.implicits._
    // DETERMINISTIC disjoint bands: ordered single-partition write rolled
    // at 250 records → objects hold exactly [0,249][250,499][500,749]
    // [750,999]. (repartitionByRange would look the same but its sampled
    // boundaries shift with session parallelism — the kept-count asserts
    // below would then depend on the host's core count.)
    val df = (0 until 1000).map(i => (i.toLong, i / 3.0,
        java.sql.Timestamp.from(Instant.parse("2024-06-01T00:00:00Z")
          .plusSeconds(i.toLong)), s"t$i"))
      .toDF("id", "v", "ts", "tag")
      .orderBy("id").coalesce(1)
    LakeWriter.write(df, schema, root,
      Instant.parse("2024-06-02T09:00:00Z"), maxRecordsPerObject = 250L,
      zoneMaps = true)
  }

  test("writer lands one sidecar per object; stats round-trip exactly") {
    val root = freshRoot()
    val written = fixture(root)
    val store = new HadoopStore(root)
    assert(written.size == 4)
    for (w <- written) {
      val st = ZoneMaps.read(store, w.key)
      assert(st.isDefined, s"missing sidecar for ${w.key}")
      val s = st.get
      assert(s.records == w.records)
      val id = s.cols("id")
      assert(id.min.isDefined && id.max.isDefined && id.nulls == 0)
      // contiguous band: max - min + 1 == records
      assert(id.max.get.subtract(id.min.get).longValueExact() + 1 == w.records,
        s"id band not contiguous for ${w.key}: $id")
      // strings untracked, but null count still real
      val tag = s.cols("tag")
      assert(tag.min.isEmpty && tag.max.isEmpty && tag.nulls == 0)
      // time tracked in epoch micros
      assert(s.cols("ts").min.isDefined)
    }
    // sidecars live under _zmaps/ and are invisible to the data read
    assert(store.list(ZoneMaps.Prefix).size == 4)
    assert(LakeReader.read(spark, root, "zt").count() == 1000)
  }

  test("readPruned opens only the objects whose band intersects; rows exact") {
    val root = freshRoot()
    fixture(root)
    // [100, 180] lies inside one 250-wide band
    val (df, report) = LakeReader.readPruned(spark, root, "zt", "id",
      dec(100), dec(180))
    assert(report.candidates == 4 && report.kept == 1,
      s"expected 1 of 4 objects kept: $report")
    // zone maps bound objects, not rows: caller applies the exact filter
    val got = df.filter(col("id").between(100, 180))
      .agg(count(lit(1)), sum("id")).head()
    assert(got.getLong(0) == 81 && got.getLong(1) == (100L to 180L).sum)
    // a range spanning two bands keeps exactly two objects
    val (_, r2) = LakeReader.readPruned(spark, root, "zt", "id", dec(240), dec(260))
    assert(r2.kept == 2, s"band-straddling range must keep 2: $r2")
    // an impossible range keeps nothing and yields an empty typed frame
    val (empty, r3) = LakeReader.readPruned(spark, root, "zt", "id",
      dec(5000), dec(6000))
    assert(r3.kept == 0 && empty.count() == 0)
    assert(empty.columns.contains("id") && empty.columns.contains("_event_hour"))
  }

  test("a lost sidecar degrades to keep-the-object; results stay exact") {
    val root = freshRoot()
    val written = fixture(root)
    val store = new HadoopStore(root)
    // delete one sidecar: that object must now always be kept
    store.delete(ZoneMaps.statsKey(written.head.key))
    val (df, report) = LakeReader.readPruned(spark, root, "zt", "id",
      dec(5000), dec(6000))
    assert(report.kept == 1, s"statless object must be kept conservatively: $report")
    assert(df.filter(col("id").between(5000, 6000)).count() == 0)
  }

  test("mayContain semantics: all-null skips, untracked keeps, NaN poisons") {
    import ZoneMaps._
    val allNull = ObjectStats(10, Map("c" -> ColStats(None, None, 10)))
    assert(!mayContain(Some(allNull), "c", dec(0), dec(1)),
      "an all-null column can never match a range")
    val untracked = ObjectStats(10, Map("c" -> ColStats(None, None, 3)))
    assert(mayContain(Some(untracked), "c", dec(0), dec(1)),
      "non-null values without bounds must keep the object")
    assert(mayContain(None, "c", dec(0), dec(1)), "no sidecar keeps")
    assert(mayContain(Some(allNull), "other", dec(0), dec(1)),
      "unknown column keeps")
    // NaN poisons bounds at track time
    val t = new Tracker(TableSchema("x", Seq("f" -> ColType.CFloat)))
    t.observe(Array[Any](java.lang.Double.valueOf(1.0)))
    t.observe(Array[Any](java.lang.Double.valueOf(Double.NaN)))
    t.observe(Array[Any](java.lang.Double.valueOf(99.0)))
    val cs = t.result().cols("f")
    assert(cs.min.isEmpty && cs.max.isEmpty, s"NaN must poison bounds: $cs")
  }

  test("hour-range pruning composes: sidecars consulted only for in-range objects") {
    val root = freshRoot()
    import spark.implicits._
    val df = (0 until 100).map(i => (i.toLong, i / 3.0,
        java.sql.Timestamp.from(Instant.parse("2024-06-01T00:00:00Z")), s"t$i"))
      .toDF("id", "v", "ts", "tag")
    LakeWriter.write(df.coalesce(1), schema, root,
      Instant.parse("2024-06-01T05:00:00Z"), zoneMaps = true)
    LakeWriter.write(df.coalesce(1), schema, root,
      Instant.parse("2024-06-01T09:00:00Z"), zoneMaps = true)
    // the key-layout prune runs FIRST: only hour 05's object is a
    // candidate, and the value predicate then keeps it
    val (got, rep) = LakeReader.readPruned(spark, root, "zt", "id",
      dec(0), dec(50),
      hourRange = Some((Instant.parse("2024-06-01T04:00:00Z"),
                        Instant.parse("2024-06-01T06:00:00Z"))))
    assert(rep.candidates == 1 && rep.kept == 1,
      s"hour prune must run before sidecar consult: $rep")
    assert(got.filter(col("id") <= 50).count() == 51)
  }

  test("compaction with zoneMaps republishes sidecars; pruning survives") {
    val root = freshRoot()
    fixture(root)
    val store = new HadoopStore(root)
    val rep = LakeMaintenance.compact(spark, store, "zt",
      targetRecords = 500L, zoneMaps = true)
    assert(rep.oldObjects == 4 && rep.records == 1000)
    // every live object has a sidecar; no staging or orphan sidecars left
    val live = LakeReader.listTableKeys(store, "zt", None)
    assert(live.forall(k => ZoneMaps.read(store, k).isDefined),
      "compacted objects must carry sidecars")
    assert(store.list(ZoneMaps.Prefix).size == live.size,
      "old/staged sidecars must be retired with their objects")
    // pruning still works — though coarser: compaction merged the range-
    // partitioned bands, so only the impossible range is provably skippable
    val (df, r) = LakeReader.readPruned(spark, root, "zt", "id",
      dec(5000), dec(6000))
    assert(r.kept == 0 && df.count() == 0, s"post-compaction prune: $r")
  }

  test("expire retires sidecars with their objects") {
    val root = freshRoot()
    import spark.implicits._
    val store = new HadoopStore(root)
    val df = (0 until 100).map(i => (i.toLong, i / 3.0,
        java.sql.Timestamp.from(Instant.parse("2024-06-01T00:00:00Z")), s"t$i"))
      .toDF("id", "v", "ts", "tag")
    LakeWriter.write(df.coalesce(1), schema, root,
      Instant.parse("2024-06-01T05:00:00Z"), zoneMaps = true)
    LakeWriter.write(df.coalesce(1), schema, root,
      Instant.parse("2024-06-03T05:00:00Z"), zoneMaps = true)
    assert(store.list(ZoneMaps.Prefix).size == 2)
    val rep = LakeMaintenance.expire(store, "zt", Instant.parse("2024-06-02T00:00:00Z"))
    assert(rep.deleted == 1)
    assert(store.list(ZoneMaps.Prefix).size == 1,
      "the expired object's sidecar must go with it")
  }

  test("garbage or truncated sidecars parse to None and keep the object") {
    import ZoneMaps._
    for (junk <- Seq("", "not json at all", "{\"records\":", "{}",
        "{\"records\":\"x\",\"cols\":{}}")) {
      val parsed = parse(junk)
      assert(parsed.isEmpty || parsed.exists(_.cols.isEmpty),
        s"junk must not fabricate stats: '$junk' -> $parsed")
    }
    // a TORN sidecar — a valid PREFIX of a real one, what a hard-killed
    // writer or racing copy+delete rename leaves — must parse to None:
    // the lenient regexes alone would read '{"records":12' out of
    // '{"records":12345,...}' and statsSummary would publish a silently
    // wrong exact COUNT. The strict round-trip check refuses it.
    val whole = render(ObjectStats(12345,
      Map("v" -> ColStats(Some(dec(1)), Some(dec(9)), 3))))
    assert(parse(whole).nonEmpty, "the canonical form itself must parse")
    for (cut <- Seq(13, whole.length - 1))
      assert(parse(whole.take(cut)).isEmpty,
        s"torn prefix must not parse: '${whole.take(cut)}'")
    assert(parse(whole + " ").isEmpty, "trailing bytes must not parse")
    // a corrupted sidecar on disk degrades to keep-the-object
    val root = freshRoot()
    val written = fixture(root)
    val store = new HadoopStore(root)
    val out = store.create(statsKey(written.head.key))
    out.write("corrupted!".getBytes("UTF-8")); out.close()
    val (_, rep) = LakeReader.readPruned(spark, root, "zt", "id",
      dec(5000), dec(6000))
    assert(rep.kept == 1, s"corrupt sidecar must keep its object: $rep")
  }

  test("distributed sidecar consult keeps EXACTLY the driver walk's set (torn + stat-less included)") {
    val root = freshRoot()
    val written = fixture(root) // id bands [0,249][250,499][500,749][750,999]
    val store = new HadoopStore(root)
    val band = written.map(_.key) // writer order == id-band order
    // band 2 [250,499]: TORN sidecar (valid prefix) — conservative keep
    tear(store, band(1))
    // band 3 [500,749]: NO sidecar at all (stat-less writer) — conservative keep
    store.delete(ZoneMaps.statsKey(band(2)))
    val keys = LakeReader.listTableKeys(store, "zt", None)
    assert(keys.size == 4)
    // band [0,100]: healthy object 1 kept by stats; 2 (torn) and 3
    // (stat-less) kept conservatively; healthy object 4 pruned
    val bands = Seq(("id", dec(0), dec(100)))
    val driver = KeyWalk.pinned(KeyWalk.OnDriver)(
      LakeReader.prunedKeys(store, keys, bands))
    val dist = KeyWalk.pinned(KeyWalk.OnExecutors())( // force the RDD walk
      LakeReader.prunedKeys(store, keys, bands))
    assert(driver == dist, s"walks must agree:\ndriver=$driver\ndist=$dist")
    assert(driver.size == 3 && !driver.contains(band(3)),
      s"torn+stat-less keep, healthy out-of-band prunes: $driver")
    // multi-band conjunction agrees too (id × v, v = id/3)
    val bands2 = Seq(("id", dec(0), dec(600)), ("v", dec(90), dec(110)))
    val d2 = KeyWalk.pinned(KeyWalk.OnDriver)(
      LakeReader.prunedKeys(store, keys, bands2))
    val x2 = KeyWalk.pinned(KeyWalk.OnExecutors())(
      LakeReader.prunedKeys(store, keys, bands2))
    assert(d2 == x2, s"multi-band walks must agree:\ndriver=$d2\ndist=$x2")
    // and the public read path over the distributed walk stays exact
    val (df, rep) = KeyWalk.pinned(KeyWalk.OnExecutors())(
      LakeReader.readPrunedMulti(spark, root, "zt", bands))
    assert(rep == LakeReader.PruneReport(4, 3))
    assert(df.filter(col("id") <= 100).count() == 101)
    // the torn sidecar that PRUNING survives (conservative keep) must
    // collapse the exact-or-absent DISTRIBUTED aggregate to None — the
    // strict parse refuses the prefix, never merges garbage into an
    // "exact" COUNT (the driver walk agrees)
    assert(KeyWalk.pinned(KeyWalk.OnExecutors(4))(
      LakeReader.statsSummary(store, "zt")).isEmpty,
      "torn sidecar must poison the distributed summary")
    assert(LakeReader.statsSummary(store, "zt").isEmpty)
  }

  test("statsByHour: per-hour exact rollups; a torn sidecar nulls ONLY its hour; distributed ≡ driver") {
    import spark.implicits._
    val root = freshRoot()
    val store = new HadoopStore(root)
    def slice(lo: Int, hi: Int) = (lo until hi).map(i => (i.toLong, i / 3.0,
        java.sql.Timestamp.from(Instant.parse("2024-06-01T00:00:00Z")
          .plusSeconds(i.toLong)), s"t$i"))
      .toDF("id", "v", "ts", "tag").coalesce(1)
    val h0 = Instant.parse("2024-06-05T07:00:00Z")
    val h1 = Instant.parse("2024-06-05T08:00:00Z")
    LakeWriter.write(slice(0, 400), schema, root, h0,
      maxRecordsPerObject = 200L, zoneMaps = true)
    LakeWriter.write(slice(400, 1000), schema, root, h1,
      maxRecordsPerObject = 200L, zoneMaps = true)
    val hours = LakeReader.statsByHour(store, "zt")
    assert(hours.map(_._1) == Seq(h0, h1), s"ascending hour buckets: $hours")
    val Seq((_, Some(s0)), (_, Some(s1))) = hours
    assert(s0.records == 400 && s1.records == 600)
    assert(s0.cols("id").min.get.longValueExact() == 0 &&
           s0.cols("id").max.get.longValueExact() == 399 &&
           s1.cols("id").min.get.longValueExact() == 400 &&
           s1.cols("id").max.get.longValueExact() == 999)
    assert(KeyWalk.pinned(KeyWalk.OnExecutors(3))(
      LakeReader.statsByHour(store, "zt")) == hours,
      "distributed hour walk must equal driver")
    // tear one sidecar in hour 0: hour 0 → None, hour 1 untouched
    val k0 = LakeReader.listTableKeys(store, "zt", Some((h0, h0))).head
    tear(store, k0)
    val after = LakeReader.statsByHour(store, "zt")
    assert(after.head._2.isEmpty, "torn hour must fall to None")
    assert(after(1) == hours(1), "healthy hour must stay exact")
    assert(KeyWalk.pinned(KeyWalk.OnExecutors())(
      LakeReader.statsByHour(store, "zt")) == after)
    // hour-range scoping composes
    assert(LakeReader.statsByHour(store, "zt", Some((h1, h1))) == Seq(after(1)))
  }

  test("expireDistributed retires the same keys + sidecars as the driver expire") {
    import spark.implicits._
    def build(): String = {
      val root = freshRoot()
      def slice(lo: Int, hi: Int) = (lo until hi).map(i => (i.toLong, i / 3.0,
          java.sql.Timestamp.from(Instant.parse("2024-06-01T00:00:00Z")
            .plusSeconds(i.toLong)), s"t$i"))
        .toDF("id", "v", "ts", "tag").coalesce(1)
      LakeWriter.write(slice(0, 300), schema, root,
        Instant.parse("2024-06-08T01:00:00Z"), maxRecordsPerObject = 100L,
        zoneMaps = true)
      LakeWriter.write(slice(300, 500), schema, root,
        Instant.parse("2024-06-08T05:00:00Z"), maxRecordsPerObject = 100L,
        zoneMaps = true)
      root
    }
    val cutoff = Instant.parse("2024-06-08T03:00:00Z")
    val (rootA, rootB) = (build(), build())
    val (storeA, storeB) = (new HadoopStore(rootA), new HadoopStore(rootB))
    val repA = LakeMaintenance.expire(storeA, "zt", cutoff)
    val repB = KeyWalk.pinned(KeyWalk.OnExecutors(2))(
      LakeMaintenance.expire(storeB, "zt", cutoff))
    assert(repA == repB, s"reports must agree: $repA vs $repB")
    assert(repA.deleted == 3, s"hour 01's three objects retire: $repA")
    def state(st: HadoopStore) =
      (LakeReader.listTableKeys(st, "zt", None).map(_.split('/').take(4).mkString("/")).sorted,
       st.list(ZoneMaps.Prefix).size)
    assert(state(storeA) == state(storeB),
      "surviving keys and sidecar counts must match across the two walks")
    assert(state(storeB)._2 == 2, "only the surviving hour's sidecars remain")
  }

  test("statsByHour survives compaction: per-hour records/nulls/bounds identical, fewer objects") {
    import spark.implicits._
    val root = freshRoot()
    val store = new HadoopStore(root)
    def slice(lo: Int, hi: Int) = (lo until hi).map(i => (i.toLong, i / 3.0,
        java.sql.Timestamp.from(Instant.parse("2024-06-01T00:00:00Z")
          .plusSeconds(i.toLong)), s"t$i"))
      .toDF("id", "v", "ts", "tag").coalesce(1)
    val h0 = Instant.parse("2024-06-07T03:00:00Z")
    val h1 = Instant.parse("2024-06-07T04:00:00Z")
    LakeWriter.write(slice(0, 600), schema, root, h0,
      maxRecordsPerObject = 100L, zoneMaps = true) // 6 objects
    LakeWriter.write(slice(600, 1000), schema, root, h1,
      maxRecordsPerObject = 100L, zoneMaps = true) // 4 objects
    val before = LakeReader.statsByHour(store, "zt")
    val rep = LakeMaintenance.compact(spark, store, "zt",
      targetRecords = 1000L, zoneMaps = true)
    assert(rep.newObjects < rep.oldObjects, s"compaction must consolidate: $rep")
    val after = LakeReader.statsByHour(store, "zt")
    // the metadata answer is invariant under the rewrite — only the
    // object count may shrink
    def essence(s: Seq[(Instant, Option[LakeReader.StatsSummary])]) =
      s.map { case (h, st) => (h, st.map(x => (x.records, x.cols))) }
    assert(essence(after) == essence(before),
      s"per-hour stats must survive compaction:\n$after\nvs\n$before")
    assert(after.forall(_._2.nonEmpty) &&
      after.map(_._2.get.objects).sum < before.map(_._2.get.objects).sum)
  }

  test("statsByHourHybrid: torn hour scanned to the SAME summary the sidecars recorded (poison parity included)") {
    import spark.implicits._
    val root = freshRoot()
    val store = new HadoopStore(root)
    // row 0 (the hour's ts MINIMUM) carries sub-millisecond precision: the
    // wire format keeps only .SSS, so the sidecar must record the
    // TRUNCATED bound or metadata and scan disagree (and a pruned band
    // between the two values would wrongly skip the object); some tags
    // are EMPTY STRINGS, which serialize to the same empty field as null
    // and must count as null in the sidecar for the same parity reason
    def slice(lo: Int, hi: Int, nanAt: Int = -1) =
      (lo until hi).map(i => (i.toLong,
          if (i == nanAt) Double.NaN else i / 3.0,
          java.sql.Timestamp.from(Instant.parse("2024-06-01T00:00:00Z")
            .plusSeconds(i.toLong).plusNanos(if (i == lo) 999999L else 0L)),
          if (i % 5 == 0) null else if (i % 7 == 0) "" else s"t$i"))
        .toDF("id", "v", "ts", "tag").coalesce(1)
    val h0 = Instant.parse("2024-06-06T10:00:00Z")
    val h1 = Instant.parse("2024-06-06T11:00:00Z")
    // hour 0 carries a NaN: its sidecar POISONS the float bounds, and the
    // scan must demote identically
    LakeWriter.write(slice(0, 300, nanAt = 7), schema, root, h0,
      maxRecordsPerObject = 150L, zoneMaps = true)
    LakeWriter.write(slice(300, 500), schema, root, h1,
      maxRecordsPerObject = 150L, zoneMaps = true)
    val before = LakeReader.statsByHour(store, "zt")
    assert(before.forall(_._2.nonEmpty))
    // all healthy: hybrid is pure metadata
    assert(LakeReader.statsByHourHybrid(spark, root, "zt") ==
      before.map { case (h, s) => (h, s.get, true) })
    // tear hour 0's sidecar: the hybrid must SCAN hour 0 into the exact
    // summary the sidecars had recorded — records, null counts, integer/
    // time bounds, poisoned float, string no-bounds, all bit-identical
    val k0 = LakeReader.listTableKeys(store, "zt", Some((h0, h0))).head
    tear(store, k0)
    val hybrid = LakeReader.statsByHourHybrid(spark, root, "zt")
    assert(hybrid.map(_._3) == Seq(false, true), s"only hour 0 scans: $hybrid")
    assert(hybrid.map(h => (h._1, h._2)) == before.map { case (h, s) => (h, s.get) },
      s"scanned summary must equal the recorded one:\n$hybrid\nvs\n$before")
  }

  test("sidecar versioning is reader-first: legacy written+accepted, versioned accepted, newer refused") {
    import ZoneMaps._
    val stats = ObjectStats(42, Map("id" -> ColStats(Some(dec(1)), Some(dec(9)), 0)))
    // writers still emit the versionless legacy shape — emitting "v":1
    // today would itself be the unsignaled break for pre-version readers
    // in a mixed-version fleet (the cliff the field exists to prevent)
    val legacy = render(stats)
    assert(!legacy.contains("\"v\":"), s"writers must stay legacy-shaped: $legacy")
    assert(parse(legacy).contains(stats))
    // the versioned shape a future bump will emit must ALREADY parse here
    val versioned = renderVersioned(stats)
    assert(versioned.startsWith("{\"v\":1,"), versioned)
    assert(parse(versioned).contains(stats), s"versioned shape must parse: $versioned")
    // a NEWER version is 'unreadable here', not 'torn': conservative None
    // (keep/scan), surfaced on stderr rather than silently degrading
    val newer = versioned.replaceFirst("\"v\":1", "\"v\":2")
    assert(parse(newer).isEmpty, "newer format must refuse to parse")
    // torn prefixes of BOTH shapes refuse too
    for (cut <- Seq(7, 20, versioned.length - 1))
      assert(parse(versioned.take(cut)).isEmpty,
        s"torn versioned prefix must not parse: '${versioned.take(cut)}'")
    assert(parse(legacy.take(legacy.length - 1)).isEmpty)
    // a column literally named "v" cannot shadow the version field
    val vcol = ObjectStats(7, Map("v" -> ColStats(Some(dec(3)), Some(dec(5)), 1)))
    assert(parse(render(vcol)).contains(vcol))
    assert(parse(renderVersioned(vcol)).contains(vcol))
  }

  test("Infinity poisons float bounds instead of failing the write") {
    import graft.types.{ColType, TableSchema}
    val t = new ZoneMaps.Tracker(TableSchema("x", Seq("f" -> ColType.CFloat)))
    t.observe(Array[Any](java.lang.Double.valueOf(1.0)))
    t.observe(Array[Any](java.lang.Double.valueOf(Double.PositiveInfinity)))
    val cs = t.result().cols("f")
    assert(cs.min.isEmpty && cs.max.isEmpty,
      s"Infinity must poison bounds, not throw: $cs")
  }

  test("exact big-long bounds survive the sidecar (no double rounding)") {
    import ZoneMaps._
    val big = Long.MaxValue - 1 // not representable in a double
    val t = new Tracker(TableSchema("x", Seq("i" -> ColType.CInteger)))
    t.observe(Array[Any](java.lang.Long.valueOf(big)))
    val rendered = render(t.result())
    val parsed = parse(rendered).get
    assert(parsed.cols("i").min.get.longValueExact() == big,
      s"long bound must round-trip exactly through: $rendered")
  }

  test("readPrunedMulti: conjunction semantics, single-band equivalence, conservative per band") {
    val root = freshRoot()
    val written = fixture(root) // id bands [0,249][250,499][500,749][750,999]
    // single band == readPruned, report and rows alike
    val (d1, r1) = LakeReader.readPruned(spark, root, "zt", "id", dec(0), dec(100))
    val (d2, r2) = LakeReader.readPrunedMulti(spark, root, "zt",
      Seq(("id", dec(0), dec(100))))
    assert(r1 == r2 && d1.count() == d2.count() && r2.kept == 1)
    // conjunction: id∈[0,100] keeps object 1, v∈[300,333] keeps object 4
    // (v = id/3) — together they keep NOTHING, and the empty frame still
    // carries the table's real schema
    val (d3, r3) = LakeReader.readPrunedMulti(spark, root, "zt",
      Seq(("id", dec(0), dec(100)), ("v", dec(300), dec(334))))
    assert(r3.kept == 0 && d3.count() == 0 && d3.columns.contains("v"))
    // a lost sidecar is conservative under EVERY band: the stat-less
    // object is kept even though both bands exclude all statted objects
    val store = new HadoopStore(root)
    store.delete(ZoneMaps.statsKey(written(1).key)) // object 2: ids 250..499
    val (_, r4) = LakeReader.readPrunedMulti(spark, root, "zt",
      Seq(("id", dec(0), dec(100)), ("v", dec(300), dec(334))))
    assert(r4.kept == 1, s"the stat-less object must survive the conjunction: $r4")
  }

  test("statsSummary: exact metadata aggregates, poison demotes bounds, loss yields None") {
    val root = freshRoot()
    val written = fixture(root)
    val store = new HadoopStore(root)
    val s0 = LakeReader.statsSummary(store, "zt").get
    assert(s0.objects == 4 && s0.records == 1000)
    val id = s0.cols("id")
    assert(id.boundsExact && id.nulls == 0 &&
      id.min.get.longValueExact() == 0 && id.max.get.longValueExact() == 999,
      s"merged id bounds must span the objects exactly: $id")
    // untracked STRING columns still carry an exact null count — only
    // their bounds are unusable (same demotion as poison)
    assert(!s0.cols("tag").boundsExact && s0.cols("tag").nulls == 0,
      s"string column: exact nulls, no bounds: ${s0.cols("tag")}")
    // poison ONE object's v bounds (None bounds, nulls < records): the
    // column's bounds demote to unusable, its null count stays exact,
    // and the other columns are untouched
    val k = written.head.key
    val orig = ZoneMaps.read(store, k).get
    ZoneMaps.write(store, k, orig.copy(cols = orig.cols.updated("v",
      ZoneMaps.ColStats(None, None, 0))))
    val s1 = LakeReader.statsSummary(store, "zt").get
    assert(!s1.cols("v").boundsExact && s1.cols("v").min.isEmpty &&
      s1.cols("v").nulls == 0, s"poison must demote bounds only: ${s1.cols("v")}")
    assert(s1.cols("id").boundsExact, "other columns keep exact bounds")
    // a column missing from one sidecar (schema drift) drops entirely
    ZoneMaps.write(store, k, orig.copy(cols = orig.cols - "v"))
    assert(!LakeReader.statsSummary(store, "zt").get.cols.contains("v"),
      "schema-drift columns cannot be summed and must drop")
    // exact-or-absent: losing any sidecar kills the whole summary
    store.delete(ZoneMaps.statsKey(k))
    assert(LakeReader.statsSummary(store, "zt").isEmpty,
      "a lost sidecar must yield None, not a partial sum")
  }

  test("statsSummaryDistributed == driver walk at every partitioning, poison and loss included") {
    val root = freshRoot()
    val written = fixture(root)
    val store = new HadoopStore(root)
    val driverSide = LakeReader.statsSummary(store, "zt")
    // the per-partition merge + pairwise summary merge must be exactly
    // the flat lattice, however the 4 objects split across partitions
    for (p <- Seq(1, 2, 3, 4))
      assert(KeyWalk.pinned(KeyWalk.OnExecutors(p))(
          LakeReader.statsSummary(store, "zt")) == driverSide,
        s"distributed($p partitions) must equal the driver walk")
    // a poisoned column in ONE partition demotes bounds globally while
    // null counts stay exact — same as the flat merge
    val k = written.head.key
    val orig = ZoneMaps.read(store, k).get
    ZoneMaps.write(store, k, orig.copy(cols = orig.cols.updated("v",
      ZoneMaps.ColStats(None, None, 0))))
    for (p <- Seq(1, 4))
      assert(KeyWalk.pinned(KeyWalk.OnExecutors(p))(
          LakeReader.statsSummary(store, "zt"))
        == LakeReader.statsSummary(store, "zt"),
        s"poison must merge identically at $p partitions")
    // a lost sidecar anywhere yields None, whichever partition holds it
    store.delete(ZoneMaps.statsKey(k))
    for (p <- Seq(1, 4))
      assert(KeyWalk.pinned(KeyWalk.OnExecutors(p))(
        LakeReader.statsSummary(store, "zt")).isEmpty,
        "loss must poison the distributed answer too")
  }

  test("boxed-representation drift still tracks: Integer as CInteger, Float as CFloat") {
    import ZoneMaps._
    // an upstream producer handing Integer/Float boxes instead of
    // Long/Double must WIDEN into the declared type, not silently fall to
    // None and disable the column's pruning forever
    val t = new Tracker(TableSchema("x",
      Seq("i" -> ColType.CInteger, "f" -> ColType.CFloat)))
    t.observe(Array[Any](java.lang.Integer.valueOf(7), java.lang.Float.valueOf(0.1f)))
    t.observe(Array[Any](java.lang.Long.valueOf(40L), java.lang.Double.valueOf(9.5)))
    val r = t.result()
    assert(r.cols("i").min.get.longValueExact() == 7L &&
      r.cols("i").max.get.longValueExact() == 40L,
      s"Integer box must widen into the long bounds: ${r.cols("i")}")
    assert(r.cols("f").min.get.compareTo(new BigDecimal("0.1")) == 0 &&
      r.cols("f").max.get.compareTo(new BigDecimal("9.5")) == 0,
      s"Float box must keep its shortest decimal form: ${r.cols("f")}")
    // Float NaN/Infinity still poison through the widened path
    val t2 = new Tracker(TableSchema("x", Seq("f" -> ColType.CFloat)))
    t2.observe(Array[Any](java.lang.Float.valueOf(Float.NaN)))
    assert(t2.result().cols("f").min.isEmpty, "Float NaN must poison bounds")
    // a FRACTIONAL box for CInteger must NOT truncate into a bound: the
    // writer serializes the value as-is ("3.7" lands in the CSV), so a
    // truncated bound 3 would prune the object wrongly — conservative
    // None (bounds poisoned, object always kept) is the only safe view.
    // Double.NaN.longValue()==0 is the same trap with a fake bound.
    val t3 = new Tracker(TableSchema("x", Seq("i" -> ColType.CInteger)))
    t3.observe(Array[Any](java.lang.Long.valueOf(5L)))
    t3.observe(Array[Any](java.lang.Double.valueOf(3.7)))
    t3.observe(Array[Any](java.lang.Long.valueOf(9L)))
    assert(t3.result().cols("i").min.isEmpty && t3.result().cols("i").max.isEmpty,
      s"fractional drift must poison integer bounds, not truncate: ${t3.result().cols("i")}")
    val t4 = new Tracker(TableSchema("x", Seq("i" -> ColType.CInteger)))
    t4.observe(Array[Any](java.lang.Double.valueOf(Double.NaN)))
    assert(t4.result().cols("i").min.isEmpty,
      "NaN drifted into an integer column must poison, not track 0")
  }

  test("buildIndex rebuilds stats sidecars: adopt a stat-less lake, heal stale bounds, seed 0-record objects") {
    import spark.implicits._
    val root = freshRoot()
    // a stat-less lake (zoneMaps = false): same data as the fixture
    val df = (0 until 1000).map(i => (i.toLong, i / 3.0,
        java.sql.Timestamp.from(Instant.parse("2024-06-01T00:00:00Z")
          .plusSeconds(i.toLong)), s"t$i"))
      .toDF("id", "v", "ts", "tag")
      .orderBy("id").coalesce(1)
    val written = LakeWriter.write(df, schema, root,
      Instant.parse("2024-06-02T09:00:00Z"), maxRecordsPerObject = 250L)
    val store = new HadoopStore(root)
    assert(LakeReader.statsSummary(store, "zt").isEmpty, "no sidecars yet")
    val (_, before) = LakeReader.readPruned(spark, root, "zt", "id", dec(100), dec(180))
    assert(before.kept == 4, "stat-less lake keeps everything")

    // ANALYZE: one distributed pass, no data rewritten
    val dataKeys = LakeReader.listTableKeys(store, "zt", None).sorted
    assert(ZoneMaps.buildIndex(spark, root, "zt") == 4)
    assert(LakeReader.listTableKeys(store, "zt", None).sorted == dataKeys,
      "stats rebuild must not touch data objects")
    val (_, after) = LakeReader.readPruned(spark, root, "zt", "id", dec(100), dec(180))
    assert(after.kept == 1, s"back-filled stats must prune: $after")
    // rebuilt bounds equal what a write-time tracker records for this
    // data (whole-second timestamps, Double/Long boxes — no drift)
    val s = LakeReader.statsSummary(store, "zt").get
    assert(s.records == 1000 && s.objects == 4)
    assert(s.cols("id").min.get.longValueExact() == 0L &&
      s.cols("id").max.get.longValueExact() == 999L && s.cols("id").boundsExact)

    // HEAL: plant a pre-millis-truncation-fix sidecar — ts min recorded
    // 500 MICROS above the stored (millis-precision) value
    val victim = written.head.key
    val good = ZoneMaps.read(store, victim).get
    val tsMin = good.cols("ts").min.get
    val stale = good.copy(cols = good.cols.updated("ts",
      good.cols("ts").copy(min = Some(tsMin.add(new BigDecimal(500))))))
    ZoneMaps.write(store, victim, stale)
    // a [trueMin, trueMin] band now wrongly SKIPS the victim
    val (_, wrong) = LakeReader.readPruned(spark, root, "zt", "ts", tsMin, tsMin)
    assert(wrong.kept == 0, s"stale micros bound reproduces the wrong skip: $wrong")
    assert(ZoneMaps.buildIndex(spark, root, "zt") == 4)
    val (healedDf, healed) = LakeReader.readPruned(spark, root, "zt", "ts", tsMin, tsMin)
    assert(healed.kept == 1, s"rebuild must heal the stale bound: $healed")
    assert(healedDf.filter(col("id") === 0L).count() == 1)

    // SEED: a header-only object still gets a sidecar (records = 0) and
    // metadata aggregates stay exact-or-absent — present and exact here
    val emptyKey = LakeKeys.objectKey("zt",
      Instant.parse("2024-06-02T10:00:00Z"), java.util.UUID.randomUUID(), gzip = true)
    val out = new java.util.zip.GZIPOutputStream(store.create(emptyKey))
    out.write((schema.typesHeader + "\n" + schema.namesHeader + "\n").getBytes("UTF-8"))
    out.close()
    assert(ZoneMaps.buildIndex(spark, root, "zt") == 5)
    val es = ZoneMaps.read(store, emptyKey)
    assert(es.exists(_.records == 0L), s"0-record object must carry a sidecar: $es")
    val s2 = LakeReader.statsSummary(store, "zt").get
    assert(s2.objects == 5 && s2.records == 1000 &&
      s2.cols("id").min.get.longValueExact() == 0L,
      s"empty object must not perturb the exact summary: $s2")
  }

  test("stats buildIndex onlyMissing: fills gaps without re-reading indexed objects") {
    val root = freshRoot()
    val written = fixture(root) // writer-time stats on all 4 objects
    val store = new HadoopStore(root)
    store.delete(ZoneMaps.statsKey(written(2).key))
    assert(LakeReader.statsSummary(store, "zt").isEmpty, "gap breaks the summary")
    assert(ZoneMaps.buildIndex(spark, root, "zt", onlyMissing = true) == 1)
    val s = LakeReader.statsSummary(store, "zt")
    assert(s.exists(x => x.objects == 4 && x.records == 1000),
      s"summary whole again after the incremental fill: $s")
    assert(ZoneMaps.buildIndex(spark, root, "zt", onlyMissing = true) == 0)
  }

  test("equal bounds under mixed producer boxes merge to one canonical form: driver ≡ distributed bit-identical") {
    val root = freshRoot()
    val sch = TableSchema("mx", Seq("id" -> ColType.CInteger, "v" -> ColType.CFloat))
    val store = new HadoopStore(root)
    // object A: v fed LONG boxes (wire "3", bound BigDecimal scale 0);
    // object B: v fed DOUBLE boxes (wire "3.0", bound scale 1) — equal by
    // compareTo, different by equals. reduceByKey combine order is
    // nondeterministic, so without tie canonicalization the merged bound's
    // FORM (and any bit-identical pinned equality) depends on the run.
    // Producer boxes reach the wire through the COLLECTOR path (values
    // written as-is — LakeWriter casts to the schema first, and buildIndex
    // re-derives from read-back Doubles), so the fixture writes the
    // objects and their write-time-Tracker sidecars directly.
    def plant(hour: String, rows: Seq[Array[Any]]): Unit = {
      val key = LakeKeys.objectKey("mx", Instant.parse(hour),
        java.util.UUID.randomUUID(), gzip = true)
      val body = (Seq(sch.typesHeader, sch.namesHeader) ++
        rows.map(r => TypedCsv.formatRow(r.toSeq, sch.colTypes))).mkString("", "\n", "\n")
      val out = new java.util.zip.GZIPOutputStream(store.create(key))
      out.write(body.getBytes("UTF-8")); out.close()
      val t = new ZoneMaps.Tracker(sch)
      rows.foreach(t.observe)
      ZoneMaps.write(store, key, t.result())
    }
    plant("2024-06-02T08:00:00Z",
      (1 to 10).map(i => Array[Any](i.toLong, java.lang.Long.valueOf(3L))))
    plant("2024-06-02T09:00:00Z",
      (11 to 20).map(i => Array[Any](i.toLong, java.lang.Double.valueOf(3.0))))
    // the per-object sidecars really do carry the two forms
    val keys = LakeReader.listTableKeys(store, "mx", None).sorted
    val perObject = keys.map(k => ZoneMaps.read(store, k).get.cols("v").min.get)
    assert(perObject.map(_.scale()).toSet == Set(0, 1),
      s"fixture must produce mixed-scale equal bounds: $perObject")
    val drv = LakeReader.statsSummary(store, "mx").get
    // ties collapse to the canonical zero-stripped form — scale 0 here —
    // so the merged bound is ONE exact BigDecimal regardless of order
    assert(drv.cols("v").min.get == new BigDecimal(3) &&
      drv.cols("v").max.get == new BigDecimal(3),
      s"tie must canonicalize (scale-0 '3'): ${drv.cols("v")}")
    // and the distributed walk is BIT-IDENTICAL (case-class equality runs
    // BigDecimal.equals — scale-sensitive), at several partitionings
    for (p <- Seq(1, 2, 7))
      assert(KeyWalk.pinned(KeyWalk.OnExecutors(p))(
        LakeReader.statsSummary(store, "mx")).contains(drv),
        s"partitions=$p must be bit-identical")
  }
}
