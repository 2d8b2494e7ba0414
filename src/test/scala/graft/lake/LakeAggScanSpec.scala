package graft.lake

import graft.SparkSuite
import graft.types.{ColType, TableSchema}

import java.time.Instant

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Aggregate pushdown ([[LakeAggScan]]): count/min/max straight off the
  * stats sidecars, objects never opened; per-object fallback keeps
  * exactness when a sidecar is missing or its bounds are poisoned. */
class LakeAggScanSpec extends SparkSuite {

  private def freshRoot() = tempUri("graft-agg-spec")

  private val schema = TableSchema("at", Seq(
    "id" -> ColType.CInteger, "score" -> ColType.CFloat,
    "tag" -> ColType.CString, "ts" -> ColType.CTime,
    "gap" -> ColType.CInteger))

  /** 1000 rows over 4 objects; score nulls every 10th, ts nulls every
    * 23rd, gap ALL-null; optional NaN at row 777 (poisons object 3's
    * score bounds). */
  private def fixture(root: String, withNaN: Boolean,
                      hour: String = "2024-06-20T08:00:00Z"): Unit = {
    import spark.implicits._
    val rows = (0 until 1000).map { i =>
      val score: java.lang.Double =
        if (i % 10 == 0) null
        else if (withNaN && i == 777) java.lang.Double.valueOf(Double.NaN)
        else java.lang.Double.valueOf(i / 8.0)
      val ts = if (i % 23 == 0) null
        else java.sql.Timestamp.from(Instant.parse("2024-06-01T00:00:00Z")
          .plusMillis(i * 1000L))
      (i.toLong, score, s"t${i % 5}", ts, null: java.lang.Long)
    }
    LakeWriter.write(
      rows.toDF("id", "score", "tag", "ts", "gap").orderBy("id").coalesce(1),
      schema, root, Instant.parse(hour), maxRecordsPerObject = 250L,
      zoneMaps = true)
  }

  private def dsv2(root: String): DataFrame =
    spark.read.format("graft-lake").option("table", "at").load(root)

  private def pushed(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("graft-lake-agg")

  test("metadata-only aggregates: sidecars answer with every data object GARBAGED") {
    val root = freshRoot()
    fixture(root, withNaN = false)
    val store = new HadoopStore(root)
    // hollow out every data object to HEADERS ONLY (valid gzip, valid
    // schema — the peek still works): an object the scan OPENS now
    // contributes ZERO rows, so the exact totals below prove every
    // answer came from the sidecars alone
    val keys = LakeReader.listTableKeys(store, "at", None)
    val header = {
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        new java.util.zip.GZIPInputStream(store.open(keys.head)), "UTF-8"))
      val h = in.readLine() + "\n" + in.readLine() + "\n"
      in.close(); h
    }
    keys.foreach { k =>
      val out = new java.util.zip.GZIPOutputStream(store.create(k))
      out.write(header.getBytes("UTF-8")); out.close()
    }
    val q = dsv2(root).agg(
      count(lit(1)).as("n"), count(col("score")).as("n_score"),
      count(col("tag")).as("n_tag"), count(col("_event_hour")).as("n_hr"),
      min(col("id")).as("min_id"), max(col("id")).as("max_id"),
      min(col("score")).as("min_score"), max(col("score")).as("max_score"),
      min(col("ts")).as("min_ts"), max(col("ts")).as("max_ts"),
      min(col("gap")).as("min_gap"), // ALL-null column → NULL, from nulls==records
      max(col("_event_hour")).as("max_hr"))
    assert(pushed(q), s"aggregate must push:\n${q.queryExecution.executedPlan}")
    val r = q.collect().head
    assert(r.getLong(0) == 1000 && r.getLong(1) == 900 && r.getLong(2) == 1000
      && r.getLong(3) == 1000)
    assert(r.getLong(4) == 0L && r.getLong(5) == 999L)
    assert(r.getDouble(6) == 1 / 8.0 && r.getDouble(7) == 999 / 8.0)
    assert(r.getTimestamp(8).toInstant == Instant.parse("2024-06-01T00:00:01Z"))
    assert(r.getTimestamp(9).toInstant == Instant.parse("2024-06-01T00:16:39Z"))
    assert(r.isNullAt(10), "all-null column must aggregate to NULL")
    assert(r.getTimestamp(11).toInstant == Instant.parse("2024-06-20T08:00:00Z"))
  }

  test("missing sidecar and poisoned bounds fall back PER OBJECT; result stays exact") {
    val root = freshRoot()
    fixture(root, withNaN = true) // NaN poisons object 3's score bounds
    val store = new HadoopStore(root)
    val keys = LakeReader.listTableKeys(store, "at", None)
    store.delete(ZoneMaps.statsKey(keys.head)) // object 0: no sidecar at all
    def agg(df: DataFrame): DataFrame = df.agg(
      count(lit(1)).as("n"), count(col("score")).as("n_score"),
      min(col("id")).as("min_id"), max(col("id")).as("max_id"),
      min(col("score")).as("min_score"), max(col("score")).as("max_score"),
      min(col("ts")).as("min_ts"), max(col("ts")).as("max_ts"))
    val viaAgg = agg(dsv2(root))
    assert(pushed(viaAgg))
    val direct = agg(LakeReader.read(spark, root, "at"))
    // exceptAll owns NaN semantics (max(score) is NaN on both sides)
    assert(viaAgg.exceptAll(direct).count() == 0 &&
      direct.exceptAll(viaAgg).count() == 0,
      s"${viaAgg.collect().toSeq} vs ${direct.collect().toSeq}")
  }

  test("group by _event_hour answers per hour from metadata; multi-hour exact") {
    val root = freshRoot()
    fixture(root, withNaN = false, hour = "2024-06-20T08:00:00Z")
    fixture(root, withNaN = false, hour = "2024-06-21T09:00:00Z")
    val q = dsv2(root).groupBy(col("_event_hour"))
      .agg(count(lit(1)).as("n"), min(col("id")).as("min_id"),
        max(col("ts")).as("max_ts"))
      .orderBy("_event_hour")
    assert(pushed(q))
    val rows = q.collect()
    assert(rows.length == 2)
    assert(rows.forall(r => r.getLong(1) == 1000 && r.getLong(2) == 0L))
    assert(rows(0).getTimestamp(0).toInstant == Instant.parse("2024-06-20T08:00:00Z"))
    assert(rows(1).getTimestamp(0).toInstant == Instant.parse("2024-06-21T09:00:00Z"))
  }

  test("a global aggregate over zero contributions returns 0/NULL, never an empty result") {
    // the degenerate lake: one HEADER-ONLY object, no sidecar — the
    // fallback yields no data rows, and without the explicit zero
    // contribution Spark's final merge (sum over an EMPTY scan) would
    // return NULL for count(*)
    val root = freshRoot()
    val store = new HadoopStore(root)
    val key = "2024/06/25/08/zt/11111111-2222-3333-4444-555555555555.csv.gz"
    val out = new java.util.zip.GZIPOutputStream(store.create(key))
    out.write("#INTEGER,STRING\nid,tag\n".getBytes("UTF-8")); out.close()
    val q = spark.read.format("graft-lake").option("table", "zt").load(root)
      .agg(count(lit(1)).as("n"), count(col("id")).as("n_id"),
        min(col("id")).as("mn"), max(col("id")).as("mx"))
    assert(pushed(q))
    val r = q.collect().head
    assert(r.getLong(0) == 0L && r.getLong(1) == 0L,
      s"counts must be 0, not NULL/missing: ${r.toSeq}")
    assert(r.isNullAt(2) && r.isNullAt(3))
    // grouped by hour: a zero-contribution hour is NO group — exactly
    // what a row scan of the same lake produces
    val g = spark.read.format("graft-lake").option("table", "zt").load(root)
      .groupBy(col("_event_hour")).agg(count(lit(1)).as("n"))
    assert(pushed(g) && g.collect().isEmpty)
  }

  test("pushdown refused where unsound: filters, string min/max, distinct, data-column group") {
    val root = freshRoot()
    fixture(root, withNaN = false)
    val df = dsv2(root)
    val filtered = df.where(col("id") >= 500L).agg(count(lit(1)).as("n"))
    assert(!pushed(filtered), "a filtered scan must NOT claim sidecar totals")
    assert(filtered.collect().head.getLong(0) == 500)
    val smin = df.agg(min(col("tag")).as("m"))
    assert(!pushed(smin) && smin.collect().head.getString(0) == "t0")
    val dist = df.agg(countDistinct(col("tag")).as("d"))
    assert(!pushed(dist) && dist.collect().head.getLong(0) == 5)
    val byTag = df.groupBy("tag").agg(count(lit(1)).as("n"))
    assert(!pushed(byTag) && byTag.count() == 5)
  }
}
