package graft.streaming

import graft.SparkSuite
import graft.lake.{HadoopStore, LakeReader, Store}
import graft.types.{ColType, TableSchema}

import java.io.{InputStream, OutputStream}
import java.sql.Timestamp

/** The epoch publish both streaming sinks share
  * ([[graft.lake.StagedPublish.publishEpoch]]) under S3-LIKE store
  * semantics, with no S3 in the sandbox: a wrapper [[Store]] forces
  * rename to COPY+DELETE (the trait's object-store default —
  * `Store.rename`'s own fallback) and injects transient put failures
  * mid-publish. The publish cases run with both name seeds: LakeSink's
  * default `table:epoch:i` and the `sinkId:table:epoch:i` form the
  * `graft-lake` streaming write always uses. Pins the two claims the
  * real-S3 gap note (SURVEY §7.4.6) rests on:
  *
  *  1. nothing in the publish protocol depends on atomic rename — a full
  *     epoch lands exactly under copy+delete semantics;
  *  2. a publish that dies HALFWAY (some objects renamed, the failing
  *     one half-copied) leaves no readable garbage beyond the published
  *     prefix-set, and the epoch REPLAY (what a restarted streaming query
  *     does from its checkpoint) heals to exactly-once — deterministic
  *     per-(table, epoch, index) names rewrite, the staging cleanup has
  *     already removed the unpublished attempt output.
  */
class FaultyStoreSpec extends SparkSuite {

  /** Delegating store with S3-style rename (copy+delete via the trait
    * default) and an armable fuse that fails the Nth put from now. */
  private final class FaultyStore(inner: Store) extends Store {
    @volatile var failPutIn: Int = -1 // -1 = healthy; 0 = fail next put
    var puts = 0
    override def put(key: String, data: InputStream): Unit = {
      if (failPutIn == 0) {
        failPutIn = -1
        // half-copied destination: the failure happens AFTER bytes began
        // landing at dst — the worst S3 partial state
        inner.put(key, new java.io.ByteArrayInputStream("garbage".getBytes))
        throw new java.io.IOException(s"injected transient put failure at $key")
      }
      if (failPutIn > 0) failPutIn -= 1
      puts += 1
      inner.put(key, data)
    }
    // mid-READ faults for one key: the stream either THROWS halfway or
    // silently EOFs halfway (a torn prefix reaches the caller's parser —
    // what a racing delete or an object-store ranged-GET cutoff delivers)
    @volatile var failReadOf: String = null
    @volatile var truncateReadOf: String = null
    override def create(key: String): OutputStream = inner.create(key)
    override def open(key: String): InputStream = {
      val in = inner.open(key)
      if (key != failReadOf && key != truncateReadOf) in
      else {
        val all = try in.readAllBytes() finally in.close()
        val half = all.length / 2
        if (key == truncateReadOf) new java.io.ByteArrayInputStream(all, 0, half)
        else new InputStream {
          private var pos = 0
          override def read(): Int =
            if (pos < half) { val b = all(pos) & 0xff; pos += 1; b }
            else throw new java.io.IOException(s"injected mid-read failure at $key")
        }
      }
    }
    override def list(prefix: String): Seq[String] = inner.list(prefix)
    override def exists(key: String): Boolean = inner.exists(key)
    override def delete(key: String): Unit = inner.delete(key)
    // NO fast filesystem rename: exactly the trait's copy+delete default
    override def rename(src: String, dst: String): Unit = {
      put(dst, open(src)); delete(src)
    }
    override def listDirs(prefix: String): Seq[String] = inner.listDirs(prefix)
    override def rootUri: String = inner.rootUri
  }

  private def ts(s: String) = Timestamp.from(java.time.Instant.parse(s))
  private val schema = TableSchema("s3_ev", Seq(
    "event_id" -> ColType.CInteger, "ts" -> ColType.CTime,
    "user_id" -> ColType.CInteger, "value" -> ColType.CFloat))

  /** The two name seeds of epoch 0's object `i`, by sink id: LakeSink's
    * default (no sink id) and the streaming write's `sinkId:` form. */
  private val Seeds: Seq[(String, Int => String)] = Seq(
    "" -> (i => s"s3_ev:0:$i"), "query-7" -> (i => s"query-7:s3_ev:0:$i"))

  private def land(root: String, store: Store, n: Int, sinkId: String): Unit = {
    import spark.implicits._
    val df = (0 until n).map(i => Ev(i, ts("2024-07-01T00:00:00Z"), i % 3, i * 1.0))
      .toDF("event_id", "ts", "user_id", "value")
    LakeSink.landBatch(df, n.toLong, schema, root, gzip = true,
      recordLimit = 100L, writerFloor = 1, onFlush = _ => (), epochId = 0L,
      sinkId = sinkId, publishStore = store)
  }

  test("sidecar faulting MID-READ collapses the metadata aggregate to None, never garbage") {
    import graft.lake.ZoneMaps
    import spark.implicits._
    val root = tempUri("graft-s3ish-torn")
    val hs = new HadoopStore(root)
    val df = (0 until 250).map(i => Ev(i, ts("2024-07-01T00:00:00Z"), i % 3, i * 1.0))
      .toDF("event_id", "ts", "user_id", "value")
    LakeSink.landBatch(df, 250L, schema, root, gzip = true, recordLimit = 100L,
      writerFloor = 1, onFlush = _ => (), epochId = 0L, publishStore = hs,
      zoneMaps = true)
    // healthy walk: exact metadata aggregate
    assert(LakeReader.statsSummary(hs, "s3_ev").exists(_.records == 250L))
    val keys = LakeReader.listTableKeys(hs, "s3_ev", None)
    val faulty = new FaultyStore(hs)
    // 1. the sidecar stream THROWS halfway — exact-or-absent means absent
    faulty.failReadOf = ZoneMaps.statsKey(keys(1))
    assert(LakeReader.statsSummary(faulty, "s3_ev").isEmpty,
      "a mid-read IOException must collapse the summary to None")
    // 2. the stream EOFs halfway: a VALID PREFIX reaches the parser — the
    //    lenient regexes alone would merge its truncated "records" into a
    //    silently wrong exact COUNT; the strict round-trip refuses it
    faulty.failReadOf = null
    faulty.truncateReadOf = ZoneMaps.statsKey(keys(1))
    assert(LakeReader.statsSummary(faulty, "s3_ev").isEmpty,
      "a torn prefix must collapse the summary to None")
    // fuse disarmed: the same store answers exactly again
    faulty.truncateReadOf = null
    assert(LakeReader.statsSummary(faulty, "s3_ev").exists(_.records == 250L))
  }

  test("a full epoch publishes exactly under copy+delete rename (no atomic rename anywhere)") {
    Seeds.foreach { case (sinkId, seed) =>
      avoidHourBoundary()
      val root = tempUri("graft-s3ish")
      val faulty = new FaultyStore(new HadoopStore(root))
      land(root, faulty, 250, sinkId) // 3 objects, all renamed via copy+delete
      assert(faulty.puts >= 3, "publish must have routed through copy+delete")
      val store = new HadoopStore(root)
      assert(LakeReader.read(spark, root, "s3_ev").count() == 250)
      val keys = ids(store)
      assert(keys == (0 until keys.size).map(seed).map(uuidOf).toSet,
        s"sinkId '$sinkId': keys must carry the epoch seed: $keys")
      assert(store.list("_staging").isEmpty, "staging must be cleaned")
    }
  }

  test("mid-publish put failure: replay heals the partial publish to exactly-once") {
    Seeds.foreach { case (sinkId, seed) => healsMidPublishFailure(sinkId, seed) }
  }

  private def uuidOf(seed: String): String = java.util.UUID.nameUUIDFromBytes(
    seed.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toString

  /** The uuids of the table's readable objects. */
  private def ids(store: Store): Set[String] =
    LakeReader.listTableKeys(store, "s3_ev", None)
      .map(_.split("/").last.stripSuffix(".csv.gz")).toSet

  private def healsMidPublishFailure(sinkId: String, seed: Int => String): Unit = {
    avoidHourBoundary() // two land calls must share one UTC flush hour
    val root = tempUri("graft-s3ish-heal")
    val faulty = new FaultyStore(new HadoopStore(root))
    // 250 rows → 3 objects; fail the SECOND publish-rename's copy, after
    // its destination began receiving bytes (the worst S3 partial state):
    // object 0 published, object 1 half-copied garbage, object 2 unmoved
    faulty.failPutIn = 1
    val e = intercept[Exception] { land(root, faulty, 250, sinkId) }
    assert(e.getMessage.contains("injected transient put failure"),
      s"the publish failure must propagate (the epoch must NOT commit): $e")
    val store = new HadoopStore(root)
    assert(store.list("_staging").isEmpty,
      "failed attempt's staging output must be cleaned on the way out")
    // the replay a restarted query performs: same epoch, same data, now
    // healthy. Deterministic names REWRITE the published object AND the
    // half-copied garbage at object 1's final key; nothing duplicates.
    land(root, faulty, 250, sinkId)
    val back = LakeReader.read(spark, root, "s3_ev")
    assert(back.count() == 250, "replay must heal to exactly-once")
    // exactly the replay's CONTIGUOUS deterministic epoch keys — the
    // published set must be ids 0..k-1 of the seed formula, nothing else
    // (no orphan from the failed attempt, however the rows split)
    val keys = ids(store)
    assert(keys == (0 until keys.size).map(seed).map(uuidOf).toSet,
      s"sinkId '$sinkId': published keys must be the contiguous deterministic set: $keys")
    // row-level integrity: the garbage half-copy was fully rewritten
    assert(back.agg(org.apache.spark.sql.functions.sum("event_id"))
      .collect()(0).getLong(0) == (0 until 250).sum.toLong)
  }
}
