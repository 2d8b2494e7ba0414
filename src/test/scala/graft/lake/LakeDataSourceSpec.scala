package graft.lake

import graft.SparkSuite
import graft.types.{ColType, TableSchema}

import java.time.Instant

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

class LakeDataSourceSpec extends SparkSuite {

  private def freshRoot() = tempUri("graft-dsv2-spec")

  private val schema = TableSchema("dt", Seq(
    "id" -> ColType.CInteger, "tag" -> ColType.CString,
    "score" -> ColType.CFloat, "ok" -> ColType.CBoolean,
    "ts" -> ColType.CTime))

  /** 1000 rows over 4 id-ordered objects; tag t0..t3 clusters per object;
    * adversarial content: nulls, ""→null round-trip, quotes, embedded
    * newlines, leading '#', NaN/±Inf, negative and huge longs. */
  private def fixture(root: String, hour: String = "2024-06-10T08:00:00Z"): Unit = {
    import spark.implicits._
    val rows = (0 until 1000).map { i =>
      val id: java.lang.Long = if (i == 13) null else
        if (i == 14) java.lang.Long.valueOf(10000000000000001L) else
        java.lang.Long.valueOf(i.toLong)
      val tag = i match {
        case 7 => null
        case 8 => "" // round-trips as NULL
        case 9 => "has,comma and \"quote\""
        case 10 => "line1\nline2"
        case 11 => "#leads-hash"
        case _ => s"t${i / 250}"
      }
      val score: java.lang.Double = i match {
        case 5 => java.lang.Double.valueOf(Double.NaN)
        case 6 => java.lang.Double.valueOf(Double.PositiveInfinity)
        case 12 => null
        case _ => java.lang.Double.valueOf(i / 8.0)
      }
      val ok: java.lang.Boolean =
        if (i % 17 == 0) null else java.lang.Boolean.valueOf(i % 2 == 0)
      val ts = if (i % 23 == 0) null
        else java.sql.Timestamp.from(Instant.parse("2024-06-01T00:00:00Z")
          .plusMillis(i * 1234L))
      (id, tag, score, ok, ts)
    }
    val df = rows.toDF("id", "tag", "score", "ok", "ts")
      .orderBy("id").coalesce(1)
    LakeWriter.write(df, schema, root, Instant.parse(hour),
      maxRecordsPerObject = 250L, zoneMaps = true, bloomColumns = Seq("tag"))
  }

  private def dsv2(root: String): DataFrame =
    spark.read.format("graft-lake").option("table", "dt").load(root)

  private def lakeScan(df: DataFrame): LakeScan =
    df.queryExecution.executedPlan
      .collectFirst { case b: BatchScanExec => b.scan }
      .getOrElse(fail(s"no BatchScanExec in:\n${df.queryExecution.executedPlan}"))
      .asInstanceOf[LakeScan]

  test("connector rows ≡ LakeReader.read rows, schema included (adversarial wire content)") {
    val root = freshRoot()
    fixture(root)
    val viaDsv2 = dsv2(root)
    val viaReader = LakeReader.read(spark, root, "dt")
    assert(viaDsv2.schema == viaReader.schema,
      s"${viaDsv2.schema} vs ${viaReader.schema}")
    assert(viaDsv2.count() == 1000)
    // row-identical, including the key-derived _event_hour
    assert(viaDsv2.exceptAll(viaReader).count() == 0)
    assert(viaReader.exceptAll(viaDsv2).count() == 0)
    // spot the adversarial round-trips through the connector's own codec
    val byTag = viaDsv2.where(col("tag") === "line1\nline2").collect()
    assert(byTag.length == 1 && byTag(0).getLong(0) == 10L)
    assert(viaDsv2.where(col("tag") === "#leads-hash").count() == 1)
    assert(viaDsv2.where(col("tag").isNull).count() == 2) // null and ""
    assert(viaDsv2.where(isnan(col("score"))).count() == 1)
    assert(viaDsv2.where(col("id") === 10000000000000001L).count() == 1)
  }

  test("zone-map band filters prune the scan's objects exactly like readPruned") {
    val root = freshRoot()
    fixture(root)
    val store = new HadoopStore(root)
    val keys = LakeReader.listTableKeys(store, "dt", None)
    // id >= 600 AND id < 800: only the [500,750) and [750,1000) objects
    // can intersect
    val q = dsv2(root).where(col("id") >= 600L && col("id") < 800L)
    val planned = lakeScan(q).plannedKeys
    val expected = LakeReader.prunedKeys(store, keys,
      Seq(("id", java.math.BigDecimal.valueOf(600), java.math.BigDecimal.valueOf(800))))
    assert(planned == expected, s"$planned vs $expected")
    assert(planned.size == 2, s"band must prune to two objects: $planned")
    // and the rows are exact (post-scan filter re-applies row-level)
    assert(q.count() == 200)
    assert(q.agg(min("id"), max("id")).collect().head.toSeq == Seq(600L, 799L))
    // a torn sidecar keeps its object (conservative): tear one the band
    // would otherwise SKIP and it must re-appear in the planned keys
    val victim = keys.find(k => ZoneMaps.read(store, k).exists(s =>
      s.cols("id").min.exists(_.compareTo(java.math.BigDecimal.valueOf(300)) > 0))).get
    tearSidecarText(store, victim)
    val q2 = dsv2(root).where(col("id") < 100L)
    assert(lakeScan(q2).plannedKeys.contains(victim),
      "torn sidecar must conservatively keep its object")
    assert(q2.count() == 98) // ids 0..99 minus the null id (13) and the huge id (14)
  }

  test("the planned scan's executor walk keeps the driver walk's objects and equals prunedKeys (torn + stat-less included)") {
    val root = freshRoot()
    fixture(root) // id objects [0,249] [250,499] [500,749] [750,huge]
    val store = new HadoopStore(root)
    val keys = LakeReader.listTableKeys(store, "dt", None)
    def minId(k: String) = ZoneMaps.read(store, k).get.cols("id").min.get.longValueExact()
    val byBand = keys.sortBy(minId)
    // out of the band [800, 900): [250,499] gets a TORN sidecar and
    // [0,249] none at all (stat-less) — both must be kept; the intact
    // [500,749] object is pruned
    tearSidecarText(store, byBand(1))
    store.delete(ZoneMaps.statsKey(byBand(0)))
    def planned(branch: KeyWalk.Branch) = KeyWalk.pinned(branch)(
      lakeScan(dsv2(root).where(col("id") >= 800L && col("id") < 900L)).plannedKeys)
    val driver = planned(KeyWalk.OnDriver)
    assert(driver.toSet == Set(byBand(0), byBand(1), byBand(3)), s"$driver")
    assert(planned(KeyWalk.OnExecutors()) == driver,
      "the executor walk must keep the driver walk's objects, in order")
    assert(driver == LakeReader.prunedKeys(store, keys, Seq(("id",
      java.math.BigDecimal.valueOf(800), java.math.BigDecimal.valueOf(900)))))
  }

  private def tearSidecarText(store: Store, dataKey: String): Unit = {
    val sk = ZoneMaps.statsKey(dataKey)
    val text = new String(store.open(sk).readAllBytes(), "UTF-8")
    val out = store.create(sk)
    out.write(text.take(text.length / 2).getBytes("UTF-8")); out.close()
  }

  test("bloom EqualTo and In prune like readPrunedEq/Any; Or/Not stay row-level only") {
    val root = freshRoot()
    fixture(root)
    // tag = t2 (ids 500..749) straddles the 250-row object boundary at
    // id 500 → exactly two objects hold it
    val q = dsv2(root).where(col("tag") === "t2")
    val planned = lakeScan(q).plannedKeys
    val (_, rep) = LakeReader.readPrunedEq(spark, root, "dt", "tag", "t2")
    assert(planned.size == rep.kept && rep.kept == 2, s"$planned vs $rep")
    assert(q.count() == 250)
    // IN-list: t0 lives in objects 0 AND 3 (the huge-id row carries tag
    // t0 and sorts last), t3 spans objects 2 and 3 → union is 3 objects
    val qin = dsv2(root).where(col("tag").isin("t0", "t3"))
    val planned2 = lakeScan(qin).plannedKeys
    val (_, rep2) = LakeReader.readPrunedEqAny(spark, root, "dt", "tag",
      Seq("t0", "t3"))
    assert(planned2.size == rep2.kept && rep2.kept == 3, s"$planned2 vs $rep2")
    // Or cannot object-prune (yet) but rows stay exact
    val qor = dsv2(root).where(col("tag") === "t1" || col("id") === 900L)
    assert(lakeScan(qor).plannedKeys.size == 4, "Or keeps all objects")
    assert(qor.count() == 251)
  }

  test("_event_hour predicates prune at the LISTING level; empty hour range is a legal empty scan") {
    val root = freshRoot()
    fixture(root, hour = "2024-06-10T08:00:00Z")
    fixture(root, hour = "2024-06-11T09:00:00Z") // second hour, 1000 more rows
    val all = dsv2(root)
    assert(all.count() == 2000)
    val hour1 = Instant.parse("2024-06-11T09:00:00Z")
    val q = all.where(col("_event_hour") === lit(java.sql.Timestamp.from(hour1)))
    val planned = lakeScan(q).plannedKeys
    assert(planned.nonEmpty && planned.forall(_.startsWith("2024/06/11/09/")),
      s"hour filter must restrict the LISTING: $planned")
    assert(q.count() == 1000)
    // range form
    val qr = all.where(col("_event_hour") >=
      lit(java.sql.Timestamp.from(Instant.parse("2024-06-11T00:00:00Z"))))
    assert(lakeScan(qr).plannedKeys.forall(_.startsWith("2024/06/11/")))
    assert(qr.count() == 1000)
    // an hour window holding nothing → zero partitions, zero rows, no error
    val qe = all.where(
      col("_event_hour") >= lit(java.sql.Timestamp.from(Instant.parse("2030-01-01T00:00:00Z"))) &&
      col("_event_hour") <= lit(java.sql.Timestamp.from(Instant.parse("2030-01-02T00:00:00Z"))))
    assert(lakeScan(qe).plannedKeys.isEmpty && qe.count() == 0)
  }

  test("column pruning reaches the reader; count(*) over an empty required schema works") {
    val root = freshRoot()
    fixture(root)
    val q = dsv2(root).select("tag")
    val scan = lakeScan(q)
    assert(scan.readSchema().fieldNames.toSeq == Seq("tag"),
      s"ReadSchema must be pruned: ${scan.readSchema()}")
    assert(q.count() == 1000)
    // projection of the key-derived column only
    val qh = dsv2(root).select("_event_hour")
    assert(qh.distinct().count() == 1)
    // count(*) prunes every column away
    assert(dsv2(root).count() == 1000)
  }

  test("post-prune statistics reach Catalyst: a pruned lake scan broadcasts by SIZE; unknown stays conservative") {
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import spark.implicits._
    def lakeBuildSideJoins(plan: org.apache.spark.sql.execution.SparkPlan) =
      plan.collect { case b: BroadcastHashJoinExec => b }.filter { b =>
        val build = b.buildSide match {
          case BuildLeft => b.left
          case BuildRight => b.right
        }
        build.collectFirst { case s: BatchScanExec => s }.isDefined
      }
    val root = freshRoot()
    fixture(root)
    // exact post-prune rows from the sidecars, visible on the scan itself
    val q = dsv2(root).where(col("id") >= 600L && col("id") < 700L)
    val stats = lakeScan(q).estimateStatistics()
    assert(stats.numRows().getAsLong == 250L, // one kept 250-row object
      s"sidecar-exact row count: ${stats.numRows()}")
    assert(stats.sizeInBytes().isPresent && stats.sizeInBytes().getAsLong > 0)
    // a big (plan-known > threshold) probe side vs the tiny pruned scan:
    // STATIC planning must already broadcast the LAKE side — that is the
    // stats doing their job, not AQE's runtime rescue
    val big = spark.range(5000000L).select(col("id").as("jid"))
    val joined = big.join(q, col("jid") === col("id"))
    val static1 = joined.queryExecution.sparkPlan // pre-AQE physical plan
    assert(lakeBuildSideJoins(static1).nonEmpty,
      s"STATIC planning must broadcast the pruned lake side by size:\n$static1")
    assert(joined.count() == 100)
    // torn sidecar on a KEPT object → exact-or-absent stats go UNKNOWN →
    // Spark's conservative default (no wrong static broadcast)
    val store = new HadoopStore(root)
    val kept = lakeScan(q).plannedKeys
    tearSidecarText(store, kept.head)
    val q2 = dsv2(root).where(col("id") >= 600L && col("id") < 700L)
    assert(!lakeScan(q2).estimateStatistics().numRows().isPresent,
      "a torn sidecar must collapse the estimate to unknown, never guess")
    val joined2 = big.join(q2, col("jid") === col("id"))
    val static2 = joined2.queryExecution.sparkPlan
    assert(lakeBuildSideJoins(static2).isEmpty,
      s"unknown size must not statically broadcast the scan:\n$static2")
    assert(joined2.count() == 100) // rows stay exact either way
  }

  test("IsNotNull pushdown: all-null objects skip from the sidecar's exact null counts") {
    import spark.implicits._
    val root = freshRoot()
    val sch = TableSchema("nt", Seq("id" -> ColType.CInteger, "ts" -> ColType.CTime))
    // 3 id-ordered objects of 250; the MIDDLE object's ts is entirely null
    val df = (0 until 750).map { i =>
      val ts = if (i >= 250 && i < 500) null
        else java.sql.Timestamp.from(Instant.parse("2024-06-01T00:00:00Z").plusSeconds(i))
      (i.toLong, ts)
    }.toDF("id", "ts").orderBy("id").coalesce(1)
    LakeWriter.write(df, sch, root, Instant.parse("2024-06-12T07:00:00Z"),
      maxRecordsPerObject = 250L, zoneMaps = true)
    val q = spark.read.format("graft-lake").option("table", "nt").load(root)
      .where(col("ts").isNotNull)
    val planned = lakeScan(q).plannedKeys
    assert(planned.size == 2,
      s"the all-null-ts object must skip on its null count: $planned")
    assert(q.count() == 500)
    // the same skip rides the IsNotNull Spark injects under range filters
    val q2 = spark.read.format("graft-lake").option("table", "nt").load(root)
      .where(col("ts") >= lit(java.sql.Timestamp.from(Instant.parse("2024-06-01T00:00:00Z"))))
    assert(lakeScan(q2).plannedKeys.size == 2)
    assert(q2.count() == 500)
  }

  /** AQE wraps executed stages; collect scans through the stage nodes. */
  private def executedScans(df: DataFrame): Seq[LakeScan] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[BatchScanExec] = (p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other => other.children.flatMap(walk)
    }) ++ (p match { case b: BatchScanExec => Seq(b); case _ => Nil })
    walk(df.queryExecution.executedPlan).map(_.scan.asInstanceOf[LakeScan])
  }

  test("runtime (dynamic-pruning) filters: a plain JOIN prunes lake objects mid-execution") {
    val root = freshRoot()
    fixture(root)
    val fact = dsv2(root)
    // the dim's selective predicate is on an INDEPENDENT column (grp), so
    // no static constraint reaches the scan — only Spark's runtime
    // dynamic-pruning IN-list can prune. grp 2 = keys 500..749, which the
    // id-ordered fixture holds in objects [499..748] and [749..] → 2 kept
    val dim = spark.range(1000L)
      .select(col("id").as("k"), (col("id") / lit(250)).cast("long").as("grp"))
      .where(col("grp") === 2)
    val joined = fact.join(dim, col("id") === col("k"))
    val rows = joined.queryExecution.executedPlan.executeCollect()
    assert(rows.length == 250) // ids 500..749 all present in the fixture
    val scan = executedScans(joined).head
    assert(scan.runtimeFilters.nonEmpty,
      "Spark must deliver the dynamic-pruning IN-list to the scan")
    assert(scan.plannedKeys.size == 2,
      s"the runtime IN-list must band-prune to two objects: ${scan.plannedKeys}")
    // exactness: same join off the bespoke reader (no connector, no DPP)
    val expected = LakeReader.read(spark, root, "dt")
      .join(dim, col("id") === col("k")).count()
    assert(expected == 250)
  }

  test("runtime hour-dim join prunes at the LISTING level; static isin(_event_hour) too") {
    val root = freshRoot()
    fixture(root, hour = "2024-06-10T08:00:00Z")
    fixture(root, hour = "2024-06-11T09:00:00Z")
    val fact = dsv2(root)
    val base = Instant.parse("2024-06-10T08:00:00Z").getEpochSecond
    // hour dim: odd offsets keep 2024-06-10T09 (absent hour) and
    // 2024-06-11T09 (= base + 25h, the second fixture's hour)
    val hours = spark.range(1L, 27L, 1L)
      .select(timestamp_seconds(lit(base) + col("id") * 3600L).as("hr"),
        (col("id") % 2).as("par"))
      .where(col("par") === 1)
    val joined = fact.join(hours, col("_event_hour") === col("hr"))
    val rows = joined.queryExecution.executedPlan.executeCollect()
    assert(rows.length == 1000, "only the 2024-06-11T09 objects join")
    val scan = executedScans(joined).head
    assert(scan.runtimeFilters.nonEmpty,
      "the hour join must deliver a runtime IN-list")
    assert(scan.plannedKeys.nonEmpty &&
      scan.plannedKeys.forall(_.startsWith("2024/06/11/09/")),
      s"runtime hour membership must prune the other hour: ${scan.plannedKeys}")
    // the same membership prune, statically: isin on _event_hour
    val qs = fact.where(col("_event_hour").isin(
      java.sql.Timestamp.from(Instant.parse("2024-06-11T09:00:00Z")),
      java.sql.Timestamp.from(Instant.parse("2024-06-12T09:00:00Z"))))
    assert(lakeScan(qs).plannedKeys.forall(_.startsWith("2024/06/11/09/")))
    assert(qs.count() == 1000)
    // a MISALIGNED member can never equal a key-derived hour: empty scan
    val qm = fact.where(col("_event_hour").isin(
      java.sql.Timestamp.from(Instant.parse("2024-06-11T09:30:00Z"))))
    assert(lakeScan(qm).plannedKeys.isEmpty && qm.count() == 0)
  }

  test("pushed LIMIT plans a sidecar-counted object PREFIX; filters refuse it; rows exact") {
    val root = freshRoot()
    fixture(root) // 4 objects × 250 rows
    // limit within the first object → ONE object planned
    val q1 = dsv2(root).limit(100)
    assert(lakeScan(q1).plannedKeys.size == 1,
      s"100 ≤ 250 known rows → one object: ${lakeScan(q1).plannedKeys}")
    assert(q1.count() == 100)
    // limit straddling object boundaries → exactly enough objects
    val q2 = dsv2(root).limit(300)
    assert(lakeScan(q2).plannedKeys.size == 2)
    assert(q2.count() == 300)
    // limit beyond the table → everything, full row count
    val q3 = dsv2(root).limit(5000)
    assert(lakeScan(q3).plannedKeys.size == 4 && q3.count() == 1000)
    // a filter between limit and scan keeps the limit OFF the scan (the
    // residual filter would make a prefix cut return too few rows)
    val q4 = dsv2(root).where(col("tag") === "t3").limit(100)
    assert(!q4.queryExecution.executedPlan.toString.contains("PushedLimit"),
      s"filtered scans must not push the limit:\n${q4.queryExecution.executedPlan}")
    assert(q4.count() == 100)
    // an unreadable sidecar yields UNKNOWN rows: the walk keeps going
    // (conservative) and the row count stays exact
    val store = new HadoopStore(root)
    val keys = LakeReader.listTableKeys(store, "dt", None)
    store.delete(ZoneMaps.statsKey(keys.head))
    val q5 = dsv2(root).limit(100)
    assert(lakeScan(q5).plannedKeys.size == 2,
      "unknown first object must keep walking to the next known one")
    assert(q5.count() == 100)
  }

  test("TopN by _event_hour plans an hour-ordered object prefix, DESC and ASC") {
    val root = freshRoot()
    fixture(root, hour = "2024-06-10T08:00:00Z") // 4 objects
    fixture(root, hour = "2024-06-11T09:00:00Z") // 4 objects
    fixture(root, hour = "2024-06-12T10:00:00Z") // 4 objects
    // newest 300: covered by two objects of the LATEST hour
    val qd = dsv2(root).orderBy(col("_event_hour").desc).limit(300)
    val sd = lakeScan(qd)
    assert(sd.plannedKeys.size == 2 &&
      sd.plannedKeys.forall(_.startsWith("2024/06/12/10/")),
      s"newest-n must plan latest-hour objects only: ${sd.plannedKeys}")
    val rowsD = qd.collect()
    assert(rowsD.length == 300 && rowsD.forall(
      _.getTimestamp(5).toInstant == Instant.parse("2024-06-12T10:00:00Z")))
    // oldest 300: earliest hour
    val qa = dsv2(root).orderBy(col("_event_hour")).limit(300)
    val sa = lakeScan(qa)
    assert(sa.plannedKeys.size == 2 &&
      sa.plannedKeys.forall(_.startsWith("2024/06/10/08/")), s"${sa.plannedKeys}")
    assert(qa.count() == 300)
    // ordering on a DATA column must NOT push (object layout says
    // nothing about it) — full result stays exact
    val qid = dsv2(root).orderBy(col("id").desc).limit(5)
    assert(!qid.queryExecution.executedPlan.toString.contains("PushedTopN"))
    assert(qid.collect().map(_.getLong(0)).toSeq ==
      Seq.fill(3)(10000000000000001L) ++ Seq(999L, 999L))
  }

  test("write clustering: option(clusterBy) lands value-banded objects that prune") {
    import spark.implicits._
    val root = freshRoot()
    fixture(root) // bootstraps table dt (schema authority)
    val store = new HadoopStore(root)
    val before = LakeReader.listTableKeys(store, "dt", None).size
    // append 1000 UNSORTED rows; clusterBy must band them by id
    val extra = (1000 until 2000).map { i =>
      (s"t${i % 4}", i.toLong * 37 % 1000 + 2000, i / 8.0, i % 2 == 0,
        java.sql.Timestamp.from(Instant.parse("2024-06-03T00:00:00Z")))
    }.toDF("tag", "id", "score", "ok", "ts")
      .withColumn("_event_hour",
        lit(java.sql.Timestamp.from(Instant.parse("2024-06-10T23:00:00Z"))))
    extra.write.format("graft-lake").option("table", "dt")
      .option("flushTime", "2024-06-10T11:00:00Z")
      .option("zoneMaps", "true")
      .option("clusterBy", "id").option("writePartitions", "4")
      .mode("append").save(root)
    val after = LakeReader.listTableKeys(store, "dt", None)
    val appended = after.filter(_.startsWith("2024/06/10/11/"))
    assert(appended.size == 4, s"writePartitions must cap objects: $appended")
    // banded layout: each appended object's [min,max] id bands are
    // DISJOINT (range distribution + in-task ordering)
    val bands = appended.map { k =>
      val s = ZoneMaps.read(store, k).get.cols("id")
      (s.min.get.longValueExact(), s.max.get.longValueExact())
    }.sortBy(_._1)
    assert(bands.sliding(2).forall {
      case Seq((_, hi), (lo, _)) => hi < lo
      case _ => true
    }, s"clustered bands must be disjoint: $bands")
    // and the bands bite: a narrow id filter keeps ONE appended object
    val q = dsv2(root).where(col("id") >= lit(bands(1)._1) &&
      col("id") <= lit(bands(1)._1 + 10))
    assert(lakeScan(q).plannedKeys.count(_.startsWith("2024/06/10/11/")) == 1,
      s"${lakeScan(q).plannedKeys}")
    assert(before == 4) // fixture sanity
  }

  test("zorder write clustering: clusterBy=zorder(x,y) lands 2-D banded objects; EITHER column prunes") {
    import spark.implicits._
    val zschema = TableSchema("zt", Seq(
      "x" -> ColType.CInteger, "y" -> ColType.CInteger))
    // 64×64 uniform grid, input order scrambled: the layout must come
    // from the write clustering, never the input
    val grid = (for (x <- 0 until 64; y <- 0 until 64)
      yield (x.toLong, y.toLong)).toDF("x", "y").repartition(7)
      .withColumn("_event_hour",
        lit(java.sql.Timestamp.from(Instant.parse("2024-06-10T12:00:00Z"))))

    def build(cluster: String): String = {
      val root = freshRoot()
      // schema bootstrap: one far-away seed object in an old hour (both
      // layouts carry the same handicap; bands prune it everywhere)
      LakeWriter.write(Seq((1000000L, 1000000L)).toDF("x", "y"), zschema,
        root, Instant.parse("2024-06-10T00:00:00Z"), zoneMaps = true)
      grid.write.format("graft-lake").option("table", "zt")
        .option("flushTime", "2024-06-10T12:00:00Z")
        .option("zoneMaps", "true")
        .option("clusterBy", cluster).option("writePartitions", "16")
        .mode("append").save(root)
      root
    }
    def planned(root: String, cond: org.apache.spark.sql.Column): Int =
      lakeScan(spark.read.format("graft-lake").option("table", "zt")
          .load(root).where(cond))
        .plannedKeys.count(_.startsWith("2024/06/10/12/"))

    val zRoot = build("zorder(x,y)")
    val lexRoot = build("x")
    // the write itself is layout-only: every grid row lands exactly once
    val back = spark.read.format("graft-lake").option("table", "zt")
      .load(zRoot).where(col("x") < 1000000L)
    assert(back.count() == 4096 &&
      back.select("x", "y").distinct().count() == 4096)
    val all = planned(zRoot, lit(true))
    assert(all == 16, s"writePartitions caps the z-write's objects: $all")

    val yNarrow = col("y").between(10, 17) // 1/8 of the y range
    val xNarrow = col("x").between(10, 17)
    // the lexicographic layout sorts on x alone: every object spans the
    // full y range, so a y filter prunes NOTHING — the exact blind spot
    // the Morton layout exists for (√N-ish boxes band BOTH columns)
    assert(planned(lexRoot, yNarrow) == 16,
      "x-sorted objects cannot prune a y filter")
    val zY = planned(zRoot, yNarrow)
    val zX = planned(zRoot, xNarrow)
    assert(zY <= 12 && zX <= 12,
      s"z-banded objects must prune on either column alone: y→$zY x→$zX of 16")
    // and a narrow box on both columns keeps ~a quadrant's worth
    val zBox = planned(zRoot, xNarrow && yNarrow)
    assert(zBox < zY && zBox <= 8, s"box filter keeps the corner boxes: $zBox")
  }

  test("zorder validation: FLOAT columns refused (fractional truncation degenerates), malformed specs named") {
    import spark.implicits._
    val root = freshRoot()
    fixture(root) // table dt: score is CFloat
    def write(cluster: String) =
      Seq((9999L, "tz", 1.5, true,
        java.sql.Timestamp.from(Instant.parse("2024-06-02T00:00:00Z"))))
        .toDF("id", "tag", "score", "ok", "ts")
        .withColumn("_event_hour", lit(java.sql.Timestamp.from(
          Instant.parse("2024-06-10T13:00:00Z"))))
        .write.format("graft-lake").option("table", "dt")
        .option("flushTime", "2024-06-10T13:00:00Z")
        .option("clusterBy", cluster).mode("append").save(root)
    val e1 = intercept[Exception] { write("zorder(score,id)") }
    assert(e1.getMessage.contains("scale FLOAT domains"),
      s"a fractional-domain zorder must be refused by name: ${e1.getMessage}")
    val e2 = intercept[Exception] { write("zorder(id,tag,score)") }
    assert(e2.getMessage.contains("zorder(colA,colB)"),
      s"wrong arity must name the zorder syntax, not a fake column: " +
        e2.getMessage)
  }

  test("a planned object retired by maintenance mid-scan is skipped, never a query failure") {
    val root = freshRoot()
    fixture(root)
    val store = new HadoopStore(root)
    val q = dsv2(root)
    val scan = lakeScan(q)
    val keys = scan.plannedKeys // force + cache the scan's key snapshot
    assert(keys.size == 4)
    // compaction/retention deletes a planned object before the task opens
    // it — the readFrom ignoreMissingFiles contract: skip, don't fail
    store.delete(keys.head)
    val rows = q.queryExecution.executedPlan.executeCollect()
    assert(rows.length == 750, s"remaining objects' rows, no crash: ${rows.length}")
  }

  test("DSv2 write: staged-published append with sidecars, by-name columns; overwrite replaces (r13)") {
    import spark.implicits._
    val root = freshRoot()
    fixture(root) // existing table dt: 1000 rows at hour 08
    // append 100 rows with SHUFFLED column order (by-name resolution) and
    // wire-hostile strings, into a later hour, with both sidecar kinds
    val extra = (1000 until 1100).map { i =>
      (if (i == 1050) "with,comma \"q\"\nand newline" else "t9",
        i.toLong, i / 8.0, i % 2 == 0,
        java.sql.Timestamp.from(Instant.parse("2024-06-02T00:00:00Z").plusSeconds(i)))
    }.toDF("tag", "id", "score", "ok", "ts")
      // Spark's by-name write resolution demands the derived column too;
      // its VALUE is ignored — planted at hour 23 to prove the landed
      // hour comes from flushTime, never from the column
      .withColumn("_event_hour",
        lit(java.sql.Timestamp.from(Instant.parse("2024-06-10T23:00:00Z"))))
    extra.write.format("graft-lake").option("table", "dt")
      .option("flushTime", "2024-06-10T09:00:00Z")
      .option("zoneMaps", "true").option("bloomColumns", "tag")
      .mode("append").save(root)
    val all = dsv2(root)
    assert(all.count() == 1100)
    assert(all.where(col("tag") === "with,comma \"q\"\nand newline").count() == 1)
    // appended rows land under the flushTime hour
    assert(all.where(col("_event_hour") ===
      lit(java.sql.Timestamp.from(Instant.parse("2024-06-10T09:00:00Z")))).count() == 100)
    // the appended objects carry working blooms: a t9 probe skips all
    // four original objects
    val (dfp, rep) = LakeReader.readPrunedEq(spark, root, "dt", "tag", "t9")
    assert(rep.skipped >= 4, s"original objects must skip on the probe: $rep")
    assert(dfp.filter(col("tag") === "t9").count() == 99)
    // no staging residue after publish — data or sidecars
    val store = new HadoopStore(root)
    assert(store.list("_staging").isEmpty &&
      store.list(ZoneMaps.Prefix + "_staging").isEmpty)
    // schema mismatch and the derived column refuse loudly
    intercept[Exception] {
      Seq(1L).toDF("id").write.format("graft-lake").option("table", "dt")
        .mode("append").save(root)
    }
    assert(dsv2(root).count() == 1100, "a refused write must change nothing")
    // mode("overwrite") is no longer refused (r13): it is the static
    // overwrite — every pre-existing object retires, the new rows land
    // under their OWN _event_hour (LakeOverwriteSpec owns the full
    // matrix; this pins the path-based face against regressing to the
    // old refusal or, worse, silently appending)
    extra.write.format("graft-lake").option("table", "dt")
      .mode("overwrite").save(root)
    assert(dsv2(root).count() == 100, "overwrite replaced the table")
    assert(LakeReader.listTableKeys(store, "dt", None)
      .forall(_.startsWith("2024/06/10/23/")),
      "overwritten rows land under their own _event_hour")
  }

  test("streaming write: epochs land with deterministic keys; a replayed epoch REWRITES, never duplicates") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    avoidHourBoundary()
    val root = freshRoot()
    val sch = TableSchema("sv", Seq("id" -> ColType.CInteger, "tag" -> ColType.CString))
    // bootstrap: the table is the schema authority for the connector
    LakeWriter.write(Seq((0L, "seed")).toDF("id", "tag"), sch, root,
      Instant.parse("2024-07-01T00:00:00Z"))
    val store = new HadoopStore(root)
    def svRead = spark.read.format("graft-lake").option("table", "sv").load(root)

    // ---- end-to-end: writeStream.format("graft-lake") -------------------
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    val ckpt = tempDir("graft-stream-ckpt").toFile.getAbsolutePath
    val q = ms.toDF().toDF("id", "tag")
      .withColumn("_event_hour",
        lit(java.sql.Timestamp.from(Instant.parse("2024-07-01T23:00:00Z"))))
      .writeStream.format("graft-lake")
      .option("table", "sv").option("sinkId", "spec-sink")
      .option("checkpointLocation", ckpt)
      .start(root)
    try {
      ms.addData((1 to 100).map(i => (i.toLong, s"t${i % 3}")): _*)
      q.processAllAvailable()
      ms.addData((101 to 150).map(i => (i.toLong, s"t${i % 3}")): _*)
      q.processAllAvailable()
    } finally q.stop()
    val back = svRead
    assert(back.count() == 151, "seed + 150 streamed rows")
    // every streamed object's key is the DETERMINISTIC epoch name
    val streamed = LakeReader.listTableKeys(store, "sv", None)
      .filterNot(_.startsWith("2024/07/01/00/"))
    val expected = (for (epoch <- 0 to 1; i <- 0 until 32) yield
      java.util.UUID.nameUUIDFromBytes(
        s"spec-sink:sv:$epoch:$i".getBytes("UTF-8")).toString).toSet
    assert(streamed.nonEmpty && streamed.forall(k =>
      expected.contains(k.split('/').last.stripSuffix(".csv.gz"))),
      s"keys must be epoch-deterministic: $streamed")
    assert(store.list("_staging").isEmpty, "no staging residue")

    // ---- replay discipline, driven directly -----------------------------
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val inStruct = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("tag", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_event_hour",
        org.apache.spark.sql.types.TimestampType)))
    def runEpoch(writers: Int, rowsPer: Int): Unit = {
      val sw = new LakeStreamingWrite(root, sch, inStruct, true, 0L, false, "replay")
      val f = sw.createStreamingWriterFactory(null)
      val msgs = (0 until writers).map { p =>
        val w = f.createWriter(p, p.toLong, 7L)
        (0 until rowsPer).foreach { i =>
          w.write(new GenericInternalRow(Array[Any](
            java.lang.Long.valueOf(p * 1000L + i),
            UTF8String.fromString("r"), java.lang.Long.valueOf(0L))))
        }
        w.commit()
      }
      sw.commit(7L, msgs.toArray)
    }
    val before = svRead.count()
    runEpoch(writers = 2, rowsPer = 10) // first attempt: 2 objects, 20 rows
    assert(svRead.count() == before + 20)
    runEpoch(writers = 1, rowsPer = 5) // replay, slimmer: must REWRITE + clean
    assert(svRead.count() == before + 5,
      "a replayed epoch rewrites its keys and cleans leftover indices")
    assert(store.list("_staging").isEmpty)
  }

  /** Set confs, run the body, restore — the suite's session is shared. */
  private def withConfs(kvs: (String, String)*)(body: => Unit): Unit = {
    val saves = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { kvs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally saves.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("hour-clustered scan: GROUP BY _event_hour aggregates with NO shuffle; off by default") {
    val root = freshRoot()
    for (h <- Seq("2024-06-10T08:00:00Z", "2024-06-10T09:00:00Z",
                  "2024-06-10T10:00:00Z")) fixture(root, h)
    def agg(df: DataFrame) = df.groupBy(col("_event_hour"))
      .agg(sum("id").as("s"), count(lit(1)).as("n")) // sum: not pushable, so
    // the PLAIN scan path (not LakeAggScan) carries the clustering proof
    withConfs("spark.sql.sources.v2.bucketing.enabled" -> "true") {
      val viaOption = agg(spark.read.format("graft-lake")
        .option("table", "dt").option("clusterByHour", "true").load(root))
      val rows = viaOption.collect()
      assert(rows.length == 3)
      val plan = viaOption.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"hour-grouped agg over an hour-clustered scan must not shuffle:\n$plan")
      // the proof is what removed the shuffle: without the option the
      // same aggregate exchanges on _event_hour
      val base = agg(dsv2(root))
      assert(base.collect().length == 3)
      assert(base.queryExecution.executedPlan.toString.contains("Exchange"),
        "the unclustered scan must still shuffle (nothing proves clustering)")
      // and the two answers are identical
      assert(base.exceptAll(viaOption).count() == 0 &&
        viaOption.exceptAll(base).count() == 0)
    }
    // conf OFF: the report is inert even WITH the option (Spark ignores
    // reported partitionings entirely) — the engine default is ON
    // (Sessions.builder), this pins the conf as the global kill switch
    withConfs("spark.sql.sources.v2.bucketing.enabled" -> "false") {
      val off = agg(spark.read.format("graft-lake").option("table", "dt")
        .option("clusterByHour", "true").load(root))
      assert(off.collect().length == 3)
      assert(off.queryExecution.executedPlan.toString.contains("Exchange"),
        "with the conf off the scan's report is ignored: the agg shuffles")
    }
  }

  test("storage-partitioned join: hour-clustered lakes join ON _event_hour shuffle-free, mismatched hours included") {
    val rootA = freshRoot(); val rootB = freshRoot()
    for (h <- Seq("2024-06-10T08:00:00Z", "2024-06-10T09:00:00Z",
                  "2024-06-10T10:00:00Z")) fixture(rootA, h)
    // B misses hour 08 and adds hour 11: partition values MISMATCH, the
    // case pushPartValues exists for (one side's missing hour planned as
    // an empty group, never a wrong or failed join)
    for (h <- Seq("2024-06-10T09:00:00Z", "2024-06-10T10:00:00Z",
                  "2024-06-10T11:00:00Z")) fixture(rootB, h)
    def clustered(root: String) = spark.read.format("graft-lake")
      .option("table", "dt").option("clusterByHour", "true").load(root)
    def hourly(df: DataFrame, s: String, n: String) = df
      .groupBy(col("_event_hour")).agg(sum("id").as(s), count(lit(1)).as(n))
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = hourly(clustered(rootA), "sa", "na")
        .join(hourly(clustered(rootB), "sb", "nb"), Seq("_event_hour"))
      val rows = joined.collect()
      assert(rows.length == 2, s"hours 09 and 10 overlap, got ${rows.length}")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"both sides prove hour-clustering: the join must plan NO shuffle:\n$plan")
      // equality against the unclustered (shuffling) plan
      val base = hourly(dsv2(rootA), "sa", "na")
        .join(hourly(dsv2(rootB), "sb", "nb"), Seq("_event_hour"))
      assert(base.exceptAll(joined).count() == 0 &&
        joined.exceptAll(base).count() == 0)
    }
  }

  test("one-side shuffle SPJ: a plain frame shuffles INTO the lake's hour clustering; the lake side never moves") {
    val root = freshRoot()
    for (h <- Seq("2024-06-10T08:00:00Z", "2024-06-10T09:00:00Z",
                  "2024-06-10T10:00:00Z")) fixture(root, h)
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.shuffle.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      import spark.implicits._
      val dim = Seq(8, 9, 10).map(h =>
        (java.sql.Timestamp.from(Instant.parse(f"2024-06-10T$h%02d:00:00Z")),
          s"label$h")).toDF("_event_hour", "label")
      val lake = spark.read.format("graft-lake").option("table", "dt")
        .option("clusterByHour", "true").load(root)
      val joined = lake.join(dim, Seq("_event_hour"))
      assert(joined.collect().length == 3000)
      // the FINAL adaptive plan only (the string repeats the initial one)
      val plan = joined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      // exactly ONE exchange — necessarily the plain side's (two sides
      // shuffling would show two): the 100-TB lake never moves, the
      // small frame repartitions INTO the scan's reported clustering
      // (`Exchange keygroupedpartitioning(_event_hour, …)`)
      val exchanges = plan.split('\n').count(_.contains("Exchange"))
      assert(exchanges == 1,
        s"one exchange total (the dim side), got $exchanges:\n$plan")
      assert(plan.contains("keygroupedpartitioning"),
        s"the dim must shuffle into the lake's hour clustering:\n$plan")
      assert(plan.contains("BatchScan"), s"lake scan present:\n$plan")
    }
  }

  test("reconcile mode: drifted tables read by-name through the connector — widened, null-filled, still pruned") {
    import spark.implicits._
    val root = freshRoot()
    // three generations of table `ev` (the LakeSpec reconcile fixture,
    // now through the front door): v1 (id, v INTEGER, tag), v2 drops tag
    // + widens v to FLOAT + reorders, v3 adds a column
    val v1 = TableSchema("ev", Seq(
      "id" -> ColType.CInteger, "v" -> ColType.CInteger, "tag" -> ColType.CString))
    val v2 = TableSchema("ev", Seq(
      "v" -> ColType.CFloat, "id" -> ColType.CInteger))
    val v3 = TableSchema("ev", Seq(
      "id" -> ColType.CInteger, "v" -> ColType.CInteger,
      "tag" -> ColType.CString, "extra" -> ColType.CString))
    val at = Instant.parse("2024-06-01T12:00:00Z")
    LakeWriter.write(Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("id", "v", "tag"),
      v1, root, at, zoneMaps = true)
    LakeWriter.write(Seq((3.5, 3L), (4.5, 4L)).toDF("v", "id"), v2, root, at,
      zoneMaps = true)
    LakeWriter.write(Seq((5L, 50L, "e", "x")).toDF("id", "v", "tag", "extra"),
      v3, root, at, zoneMaps = true)

    // strict connector read refuses the drift loudly
    intercept[Throwable] { dsv2(root).count() } // table dt missing here anyway
    intercept[Throwable] {
      spark.read.format("graft-lake").option("table", "ev").load(root).collect()
    }
    def rec = spark.read.format("graft-lake").option("table", "ev")
      .option("reconcile", "true").load(root)
    val bespoke = LakeReader.readReconciled(spark, root, "ev")
    assert(rec.schema == bespoke.schema,
      s"${rec.schema} vs ${bespoke.schema}") // content-defined order + widening
    assert(rec.exceptAll(bespoke).count() == 0 &&
      bespoke.exceptAll(rec).count() == 0)
    // sidecar pruning still bites: v recorded as INTEGER bounds in v1/v3
    // objects and FLOAT bounds in v2, probed through the WIDENED column
    val banded = rec.where(col("v") <= 4.0)
    val scan = lakeScan(banded)
    assert(scan.plannedKeys.size == 1,
      s"only v2's object holds v <= 4.0: ${scan.plannedKeys}")
    assert(banded.select("id").collect().map(_.getLong(0)).toSeq == Seq(3L),
      "only v=3.5 passes the predicate (4.5 > 4.0)")
    // aggregate pushdown refuses (an object's sidecar cannot attest
    // columns it never carried); the plain reconciling scan stays exact
    val agg = rec.agg(count(col("tag")).as("n"), min(col("v")).as("m"))
    assert(!agg.queryExecution.executedPlan.toString.contains("graft-lake-agg"),
      "reconcile must refuse aggregate pushdown")
    assert(agg.collect().head.toSeq == Seq(3L, 3.5))
    // and the micro-batch source reads drifted objects the same way
    spark.catalog.dropTempView("rec_drain")
    val q = spark.readStream.format("graft-lake").option("table", "ev")
      .option("reconcile", "true").load(root)
      .writeStream.format("memory").queryName("rec_drain").outputMode("append")
      .option("checkpointLocation", tempDir("rec-ckpt")
        .toFile.getAbsolutePath)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("rec_drain")
    assert(streamed.exceptAll(bespoke).count() == 0 &&
      bespoke.exceptAll(streamed).count() == 0)
  }

  test("reconcile refuses irreconcilable drift loudly at schema resolution") {
    import spark.implicits._
    val root = freshRoot()
    val at = Instant.parse("2024-06-01T12:00:00Z")
    LakeWriter.write(Seq((1L, "a")).toDF("id", "tag"),
      TableSchema("ev", Seq("id" -> ColType.CInteger, "tag" -> ColType.CString)),
      root, at)
    LakeWriter.write(Seq((2L, 7L)).toDF("id", "tag"),
      TableSchema("ev", Seq("id" -> ColType.CInteger, "tag" -> ColType.CInteger)),
      root, at)
    val ex = intercept[IllegalArgumentException] {
      spark.read.format("graft-lake").option("table", "ev")
        .option("reconcile", "true").load(root)
    }
    assert(ex.getMessage.contains("irreconcilable schema drift"))
  }

  test("_object_key metadata column: provenance per row; equality on it prunes to exactly that object") {
    val root = freshRoot()
    fixture(root) // 4 objects, one hour
    val df = dsv2(root).select(col("id"), col("_event_hour"),
      col("_object_key"))
    // every row's key parses, names table dt, and agrees with its
    // key-derived _event_hour
    val rows = df.collect()
    assert(rows.length == 1000)
    assert(rows.forall { r =>
      LakeKeys.parseKey(r.getString(2)).exists { case (h, t, _) =>
        t == "dt" && h.toEpochMilli * 1000L ==
          r.getTimestamp(1).toInstant.toEpochMilli * 1000L
      }
    })
    // per-object row counts equal the sidecars' records
    val store = new HadoopStore(root)
    val byKey = dsv2(root).groupBy(col("_object_key"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val fromSidecars = LakeReader.listTableKeys(store, "dt", None)
      .map(k => k -> ZoneMaps.read(store, k).get.records).toMap
    assert(byKey == fromSidecars)
    // the point lookup: = on _object_key plans EXACTLY that object
    val one = fromSidecars.keys.head
    val lookup = dsv2(root).where(col("_object_key") === one)
    assert(lakeScan(lookup).plannedKeys == Seq(one),
      s"key equality must plan exactly one object: ${lakeScan(lookup).plannedKeys}")
    assert(lookup.count() == fromSidecars(one))
    // null-safe equality is = for a non-null column: same point lookup
    val nullSafe = dsv2(root).where(col("_object_key") <=> one)
    assert(lakeScan(nullSafe).plannedKeys == Seq(one),
      s"<=> must plan exactly one object: ${lakeScan(nullSafe).plannedKeys}")
    // IN-list of two keys plans exactly those; a non-key string plans none
    val two = fromSidecars.keys.take(2).toSeq
    val pair = dsv2(root).where(col("_object_key").isin(two: _*))
    assert(lakeScan(pair).plannedKeys.sorted == two.sorted)
    val none = dsv2(root).where(col("_object_key") === "not/a/lake/key")
    assert(lakeScan(none).plannedKeys.isEmpty && none.count() == 0)
    // writes don't accept it: the metadata column is read-only
    val e = intercept[Exception] {
      dsv2(root).select(col("id"), col("tag"), col("score"), col("ok"),
        col("ts"), col("_event_hour"), col("_object_key"))
        .write.format("graft-lake").option("table", "dt").mode("append").save(root)
    }
    // Spark's analysis refuses the extra column before our own by-name
    // check would (either error is the right refusal)
    assert(e.getMessage.contains("TOO_MANY_DATA_COLUMNS") ||
      e.getMessage.contains("declared lake columns"), e.getMessage)
  }

  test("missing table and missing options fail loudly; drifted header fails the scan") {
    val root = freshRoot()
    fixture(root)
    intercept[IllegalArgumentException] {
      spark.read.format("graft-lake").option("table", "nope").load(root).count()
    }
    intercept[IllegalArgumentException] {
      spark.read.format("graft-lake").load(root).count() // no table option
    }
    // plant a drifted object (extra column) in the same table
    val store = new HadoopStore(root)
    val drifted = TableSchema("dt", Seq("id" -> ColType.CInteger,
      "extra" -> ColType.CString))
    val key = "2024/06/10/08/dt/zz-drifted.csv"
    val out = store.create(key)
    out.write("#INTEGER,STRING\nid,extra\n1,x\n".getBytes("UTF-8")); out.close()
    val e = intercept[Exception] { dsv2(root).count() }
    def rootCause(t: Throwable): Throwable =
      if (t.getCause == null || t.getCause == t) t else rootCause(t.getCause)
    assert((e.getMessage + rootCause(e).getMessage).contains("drift"),
      s"drift must fail loudly: $e")
    assert(drifted.columnNames == Seq("id", "extra")) // fixture sanity
  }
}
