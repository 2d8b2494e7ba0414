package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The extensions path must yield the same SQL surface as the imperative
  * exprs.register: build a session through `Sessions.builder` — the one
  * registration path, which installs the extensions with
  * `builder.withExtensions` — and evaluate each function.
  * (`spark.sql.extensions` is a STATIC conf, read from the SparkContext
  * at its creation, so it could not install them on this suite's shared
  * context.) The prior default session is cleared first and restored
  * after; the underlying SparkContext is shared. */
class GraftExtensionsSpec extends AnyFunSuite with TempDirs {

  test("GraftExtensions installs the SQL functions via SparkSessionExtensions") {
    val prior = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val spark = Sessions.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .getOrCreate()
    try {
      val r = spark.sql(
        """SELECT rolling_hash('ab') AS h,
          |  shingles(array('a','b','c'), 2) AS sh,
          |  minhash(array('a','b'), 4)[0] AS m,
          |  simhash64(array('a','b')) AS f,
          |  srp_sig(array(1.0d, -2.0d), 8, 0) AS p,
          |  cosine_sim(array(3.0d, 4.0d), array(3.0d, 4.0d)) AS c,
          |  jaccard_milli(array('a','b','c'), array('b','c','d')) AS j,
          |  stopword_scores('the cat and more', array('the','and'), array('cat','of')) AS sw,
          |  lang_id('the cat and the dog of it') AS lid,
          |  line_stats('a\nb\na') AS ls,
          |  top_bigram_cover(array('x','y','x','y')) AS bg,
          |  char_entropy_milli('ab') AS ce,
          |  z_interleave(3L, 1L) AS z,
          |  wordpiece_stats(array('thing'), array('th','ing')) AS wps,
          |  wordpiece_segment(array('thingx'), array('th','ing')) AS wpg,
          |  length(unicode_normalize('é', 'NFD')) AS nfd,
          |  length(unicode_normalize(unicode_normalize('é', 'NFD'), 'NFC')) AS nfc
          |FROM range(1)""".stripMargin).collect()(0)
      assert(r.getAs[Long]("h") ==
        (((7L * 31 + 'a') % 2147483647L) * 31 + 'b') % 2147483647L)
      assert(r.getSeq[String](1) == Seq("a b", "b c"))
      assert(r.getAs[Double]("c") == 1.0)
      assert(r.getAs[Long]("j") == 500L) // |∩|=2, |∪|=4
      assert(r.getSeq[Long](r.fieldIndex("sw")) == Seq(2L, 1L))
      assert(r.getAs[String]("lid") == "en")
      // 3 lines, 2 distinct, 3 chars total, 1 duplicated char
      assert(r.getSeq[Long](r.fieldIndex("ls")) == Seq(3L, 2L, 3L, 1L))
      assert(r.getAs[Long]("bg") == 6L) // "x y" twice × 3 chars
      assert(r.getAs[Long]("ce") == 693L) // ln 2 in milli-nats
      assert(r.getAs[Long]("z") == 7L) // a→bits 0,2; b→bit 1
      assert(r.getSeq[Long](r.fieldIndex("wps")) == Seq(2L, 0L))
      assert(r.getSeq[String](r.fieldIndex("wpg")) == Seq("th", "ing", "x"))
      assert(r.getAs[Int]("nfd") == 2) // é decomposes to e + U+0301
      assert(r.getAs[Int]("nfc") == 1) // ...and NFC recomposes it
    } finally {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prior.foreach { s => SparkSession.setDefaultSession(s); SparkSession.setActiveSession(s) }
    }
  }

  test("the extensions path applies ZOrderWriteLayout (Pre-CBO batch, after V2Writes builds the write)") {
    import graft.lake.{HadoopStore, LakeWriter, ZoneMaps}
    import graft.types.{ColType, TableSchema}
    import org.apache.spark.sql.functions._
    val prior = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val spark = Sessions.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .getOrCreate()
    try {
      import spark.implicits._
      val root = tempUri("graft-ext-zorder")
      val schema = TableSchema("zt", Seq(
        "x" -> ColType.CInteger, "y" -> ColType.CInteger))
      LakeWriter.write(Seq((1000000L, 1000000L)).toDF("x", "y"), schema,
        root, java.time.Instant.parse("2024-06-10T00:00:00Z"),
        zoneMaps = true)
      (for (x <- 0 until 32; y <- 0 until 32) yield (x.toLong, y.toLong))
        .toDF("x", "y").repartition(5)
        .withColumn("_event_hour", lit(java.sql.Timestamp.from(
          java.time.Instant.parse("2024-06-10T12:00:00Z"))))
        .write.format("graft-lake").option("table", "zt")
        .option("flushTime", "2024-06-10T12:00:00Z")
        .option("zoneMaps", "true")
        .option("clusterBy", "zorder(x,y)").option("writePartitions", "16")
        .mode("append").save(root)
      // the layout proof: a y-only filter prunes (x-sorted objects never
      // could), which requires the z-sort to have actually been applied
      // by THIS session's injected rule
      val store = new HadoopStore(root)
      val keys = graft.lake.LakeReader.listTableKeys(store, "zt", None)
        .filter(_.startsWith("2024/06/10/12/"))
      assert(keys.size == 16, s"writePartitions caps objects: ${keys.size}")
      val yPruned = keys.count { k =>
        ZoneMaps.read(store, k).exists(s => s.cols.get("y").exists(c =>
          c.min.exists(_.longValueExact() <= 7) &&
            c.max.exists(_.longValueExact() >= 0)))
      }
      // count objects whose y-band intersects [0,7]: z-layout keeps it
      // well under all 16 (an unclustered/x-only write spans full y
      // everywhere, so every object would intersect)
      val intersecting = keys.count { k =>
        ZoneMaps.read(store, k).get.cols("y") match {
          case c => c.min.get.longValueExact() <= 7 && c.max.get.longValueExact() >= 0
        }
      }
      assert(intersecting < 16 && intersecting <= 8,
        s"z-banded y ranges: $intersecting of 16 objects intersect y<=7 " +
          s"(16 would mean the rule never fired) [$yPruned]")
    } finally {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prior.foreach { s => SparkSession.setDefaultSession(s); SparkSession.setActiveSession(s) }
    }
  }
}
