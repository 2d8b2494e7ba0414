package graft.lake

import graft.SparkSuite
import graft.types.{ColType, TableSchema}

import java.time.Instant

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** `format("graft-lake-cdf")` ([[LakeCdfProvider]]) — the STREAMING
  * change-data-feed: generation-numbered offsets over [[LakeChanges]]'
  * row-exact per-commit diffs. The suite pins: per-commit batches with
  * exact `_commit_gen` attribution (update = delete+insert, catch-up
  * windows keep every commit's rows distinct), exactly-once across a
  * checkpoint restart (replay recomputes identical batches from
  * immutable records), append invisibility until the next commit's
  * snapshot captures them, composition with rollback (the feed delivers
  * the inverse), and the loud no-retention refusal. */
class LakeCdfSpec extends SparkSuite {

  private val schema = TableSchema("ct", Seq(
    "id" -> ColType.CInteger, "uid" -> ColType.CInteger,
    "vc" -> ColType.CInteger))

  private def fixture(): (String, String, HadoopStore) = {
    val root = tempUri("graft-cdf-spec")
    val cat = s"cdf${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root, new HadoopStore(root))
  }

  private def land(root: String, hour: String = "2024-07-01T08:00:00Z",
                   lo: Int = 0, n: Int = 500): Unit = {
    import spark.implicits._
    LakeWriter.write(
      (lo until lo + n).map(i => (i.toLong, (i % 50).toLong, i.toLong))
        .toDF("id", "uid", "vc").orderBy("id").coalesce(1),
      schema, root, Instant.parse(hour), maxRecordsPerObject = 250L,
      zoneMaps = true); ()
  }

  private def retainOn(cat: String): Unit = {
    spark.sql(s"CALL $cat.system.set_retention(table => 'ct', " +
      "retain => true)").collect(); ()
  }

  /** Drain the CDF feed once; returns the collected batches in order. */
  private def drain(root: String, ckpt: String,
                    opts: Map[String, String] = Map.empty)
      : Seq[DataFrame] = {
    val got = new scala.collection.mutable.ArrayBuffer[DataFrame]
    val base = spark.readStream.format("graft-lake-cdf").option("table", "ct")
    val q = opts.foldLeft(base) { case (b, (k, v)) => b.option(k, v) }
      .load(root).writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: DataFrame, _: Long) =>
        val cached = df.persist()
        cached.count() // materialize before the trigger moves on
        got.synchronized { got += cached }; ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    got.synchronized(got.toSeq).filter(_.count() > 0)
  }

  private def freshCkpt(): String =
    tempDir("graft-cdf-ckpt").toFile.getAbsolutePath

  test("per-commit attribution: each change row carries its exact generation; an update is delete+insert; the feed equals the batch diff") {
    val (cat, root, _) = fixture()
    land(root)
    retainOn(cat)                                                  // gen 1
    spark.sql(s"UPDATE $cat.ct SET vc = vc + 1000 WHERE id < 20")  // gen 2
    spark.sql(s"DELETE FROM $cat.ct WHERE id >= 480")              // gen 3
    val batches = drain(root, freshCkpt(),
      Map("startingVersion" -> "1"))
    val all = batches.reduce(_ unionByName _)
    // exact per-commit attribution at ANY window size
    val g2 = all.where(col("_commit_gen") === 2L)
    val g3 = all.where(col("_commit_gen") === 3L)
    assert(all.where(!col("_commit_gen").isin(2L, 3L)).count() == 0)
    // gen 2: 20 deletes (pre-image) + 20 inserts (post-image)
    assert(g2.where(col("_change_type") === "delete").count() == 20 &&
      g2.where(col("_change_type") === "insert").count() == 20)
    assert(g2.where(col("_change_type") === "insert")
      .agg(sum("vc")).head.getLong(0) == (0L until 20L).sum + 20L * 1000L)
    // gen 3: 20 deletes, no inserts
    assert(g3.where(col("_change_type") === "delete").count() == 20 &&
      g3.where(col("_change_type") === "insert").count() == 0)
    // _commit_at carries each commit's OWN record wall-clock stamp
    val store = new HadoopStore(root)
    for (g <- 2L to 3L) {
      val at = LakeVersions.readCommitted(store, "ct", g).get.at
      assert(all.where(col("_commit_gen") === g)
        .select("_commit_at").distinct().collect()
        .map(_.getTimestamp(0).getTime).toSeq == Seq(at),
        s"generation $g must stamp its record's commit time")
    }
    // and each per-commit slice equals the batch-side diff exactly
    for (g <- 2L to 3L) {
      val feed = all.where(col("_commit_gen") === g)
        .drop("_commit_gen", "_commit_at")
      val batch = LakeChanges.between(spark, root, "ct",
        (g - 1).toString, g.toString)
      assert(feed.exceptAll(batch).count() == 0 &&
        batch.exceptAll(feed).count() == 0,
        s"generation $g: the feed must equal LakeChanges.between")
    }
  }

  test("exactly-once across restarts: a drained checkpoint redelivers nothing; later commits deliver from the checkpointed offset") {
    val (cat, root, _) = fixture()
    land(root)
    retainOn(cat)                                                  // gen 1
    spark.sql(s"UPDATE $cat.ct SET vc = vc + 100 WHERE id < 5")    // gen 2
    val ckpt = freshCkpt()
    val first = drain(root, ckpt, Map("startingVersion" -> "1"))
    assert(first.map(_.count()).sum == 10) // 5 deletes + 5 inserts
    assert(drain(root, ckpt).isEmpty, "a drained feed redelivers nothing")
    spark.sql(s"DELETE FROM $cat.ct WHERE id < 3")                 // gen 3
    val second = drain(root, ckpt)
    assert(second.map(_.count()).sum == 3,
      "only the NEW commit delivers after restart")
    assert(second.head.agg(max("_commit_gen")).head.getLong(0) == 3L)
  }

  test("plain appends are invisible until a commit's snapshot captures them; the capturing commit delivers them as inserts") {
    val (cat, root, _) = fixture()
    land(root)
    retainOn(cat)                                                  // gen 1
    val ckpt = freshCkpt()
    assert(drain(root, ckpt).isEmpty, "no commit yet — nothing to deliver")
    // an append mints no generation: still nothing to deliver
    land(root, hour = "2024-07-01T09:00:00Z", lo = 1000, n = 100)
    assert(drain(root, ckpt).isEmpty,
      "appends are outside the chain until a commit captures them")
    // the next commit's snapshot captures the appended hour (the update
    // must CHANGE its row — an identical pre/post image cancels)
    spark.sql(s"UPDATE $cat.ct SET vc = 123456 WHERE id = 0")      // gen 2
    val got = drain(root, ckpt)
    val all = got.reduce(_ unionByName _)
    assert(all.where(col("_change_type") === "insert" &&
      col("id") >= 1000L).count() == 100,
      "the capturing commit delivers the appended rows as inserts")
    assert(all.count() == 100 + 2) // + the update's delete+insert
  }

  test("rollback composes: the feed delivers the rollback commit as the row-exact inverse") {
    val (cat, root, _) = fixture()
    land(root)
    retainOn(cat)                                                  // gen 1
    spark.sql(s"DELETE FROM $cat.ct WHERE id >= 400")              // gen 2
    val ckpt = freshCkpt()
    assert(drain(root, ckpt, Map("startingVersion" -> "1"))
      .map(_.count()).sum == 100)
    spark.sql(s"CALL $cat.system.rollback(table => 'ct', " +
      "version => '1')").collect()                                 // gen 3
    val got = drain(root, ckpt)
    val all = got.reduce(_ unionByName _)
    assert(all.where(col("_change_type") === "insert").count() == 100 &&
      all.where(col("_change_type") === "delete").count() == 0,
      "the rollback delivers the deleted rows back as inserts")
    assert(all.agg(min("id")).head.getLong(0) == 400L)
  }

  test("a compaction commit delivers an EMPTY change batch (rows identical, layout-only); expire reclaiming a needed generation fails the replay loudly") {
    val (cat, root, store) = fixture()
    land(root)
    retainOn(cat)                                                  // gen 1
    spark.sql(s"UPDATE $cat.ct SET vc = vc + 1 WHERE id < 10")     // gen 2
    LakeMaintenance.compact(spark, store, "ct", targetRecords = 10000L,
      zoneMaps = true)                                             // gen 3
    val ckpt = freshCkpt()
    val got = drain(root, ckpt, Map("startingVersion" -> "1"))
    val all = got.reduce(_ unionByName _)
    // gen 2's update delivers; gen 3 (the compact) nets to NOTHING —
    // every row survived the rewrite, so the signed diff cancels
    assert(all.where(col("_commit_gen") === 2L).count() == 20)
    assert(all.where(col("_commit_gen") === 3L).count() == 0,
      "a layout-only commit must deliver no change rows")
    // a replay whose baseline was reclaimed fails loudly, never wrong:
    // expire everything below the head, then restart from the OLD
    // checkpointed offset with more commits pending
    spark.sql(s"UPDATE $cat.ct SET vc = vc + 1 WHERE id < 2")      // gen 4
    spark.sql(s"CALL $cat.system.expire_versions(table => 'ct', " +
      "keep_last => 1)").collect()                                 // gen 5
    val e = intercept[Exception] { drain(root, ckpt) }
    val m = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    assert(m.contains("expire_versions") || m.contains("retention"),
      s"a reclaimed replay range must name the remedy: $m")
  }

  test("startingTimestamp resolves to the newest commit at or before it (the TIMESTAMP AS OF rule); exclusive with startingVersion") {
    val (cat, root, _) = fixture()
    land(root)
    retainOn(cat)                                                  // gen 1
    spark.sql(s"UPDATE $cat.ct SET vc = vc + 9 WHERE id < 4")      // gen 2
    val store = new HadoopStore(root)
    val at1 = LakeVersions.readCommitted(store, "ct", 1L).get.at
    // baseline = gen 1 (the newest commit at/before its own stamp):
    // exactly gen 2's changes deliver
    val got = drain(root, freshCkpt(),
      Map("startingTimestamp" ->
        java.time.Instant.ofEpochMilli(at1).toString))
    assert(got.map(_.count()).sum == 8) // 4 deletes + 4 inserts
    assert(got.head.agg(max("_commit_gen")).head.getLong(0) == 2L)
    val e = intercept[Exception] {
      drain(root, freshCkpt(), Map(
        "startingVersion" -> "1", "startingTimestamp" -> at1.toString))
    }
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
      .contains("mutually exclusive"))
  }

  test("AvailableNow + maxGensPerTrigger drains the whole backlog in per-window batches, then stops (first-class AvailableNow)") {
    val (cat, root, _) = fixture()
    land(root)
    retainOn(cat)                                                  // gen 1
    spark.sql(s"UPDATE $cat.ct SET vc = vc + 1 WHERE id < 3")      // gen 2
    spark.sql(s"UPDATE $cat.ct SET vc = vc + 1 WHERE id < 2")      // gen 3
    spark.sql(s"DELETE FROM $cat.ct WHERE id = 0")                 // gen 4
    val got = drain(root, freshCkpt(),
      Map("startingVersion" -> "1", "maxGensPerTrigger" -> "1"))
    // THREE one-commit batches in ONE AvailableNow run
    assert(got.size == 3, s"per-window batches: ${got.size}")
    assert(got.map(_.agg(max("_commit_gen")).head.getLong(0)) ==
      Seq(2L, 3L, 4L))
    assert(got.map(_.count()) == Seq(6L, 4L, 1L))
  }

  test("branch state is invisible to the feed until publish; the publish generation delivers the batch + the scrub's exact split at once") {
    val (cat, root, _) = fixture()
    land(root)
    retainOn(cat)                                                  // gen 1
    val ckpt = freshCkpt()
    assert(drain(root, ckpt).isEmpty)
    // stage a batch and scrub a live row under the branch: all hidden
    import spark.implicits._
    val hot = java.sql.Timestamp.from(
      java.time.Instant.parse("2024-07-01T10:00:00Z"))
    (0 until 10).map(i => (5000L + i, -1L, 0L)).toDF("id", "uid", "vc")
      .withColumn("_event_hour", lit(hot)).coalesce(1)
      .write.format("graft-lake").option("table", "ct")
      .option("auditId", "cf").mode("append").save(root)
    spark.conf.set("spark.graft.wap.branch", "cf")
    try spark.sql(s"UPDATE $cat.ct SET vc = -1 WHERE id = 3")
    finally spark.conf.unset("spark.graft.wap.branch")
    assert(drain(root, ckpt).isEmpty,
      "staged + branch-hidden state must not reach the feed")
    spark.sql(s"CALL $cat.system.publish_audit(table => 'ct', " +
      "audit_id => 'cf')").collect()                               // gen 2
    val all = drain(root, ckpt).reduce(_ unionByName _)
    // ONE generation delivers everything: 10 batch inserts + the
    // scrubbed row's delete(pre) + insert(post)
    assert(all.select("_commit_gen").distinct().count() == 1)
    assert(all.where(col("_change_type") === "insert" &&
      col("id") >= 5000L).count() == 10)
    assert(all.where(col("id") === 3L &&
      col("_change_type") === "delete").count() == 1)
    assert(all.where(col("id") === 3L && col("vc") === -1L &&
      col("_change_type") === "insert").count() == 1)
    assert(all.count() == 12)
  }

  test("no retention refuses loudly with the remedy; a data column named _commit_gen refuses") {
    val (cat, root, _) = fixture()
    land(root)
    spark.sql(s"UPDATE $cat.ct SET vc = 0 WHERE id = 0")           // gen 1
    spark.sql(s"UPDATE $cat.ct SET vc = 1 WHERE id = 0")           // gen 2
    val e = intercept[Exception] {
      drain(root, freshCkpt(), Map("startingVersion" -> "1"))
    }
    val m = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    assert(m.contains("set_retention"), s"remedy must be named: $m")
  }
}
