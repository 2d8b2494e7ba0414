package graft.lake

import graft.SparkSuite
import graft.types.{ColType, TableSchema}

import java.time.Instant

import org.apache.spark.sql.functions._

/** SQL DML through the catalog ([[LakeRowLevel]]): DELETE takes the
  * metadata path when the condition translates exactly (probe / hour
  * range / object keys — zero non-matching objects rewritten);
  * arbitrary DELETE and UPDATE rewrite copy-on-write through Spark's
  * ReplaceData with EXACT group runtime filtering on `_object_key`;
  * MERGE takes the position-DELTA path (WriteDelta, [[LakeDelta]] —
  * plan gates and delta-specific semantics in LakeDeltaSpec). */
class LakeDmlSpec extends SparkSuite {

  private val schema = TableSchema("ev", Seq(
    "id" -> ColType.CInteger, "tag" -> ColType.CString,
    "v" -> ColType.CFloat))

  /** Catalog + four bloomed/zone-mapped objects per hour over two hours. */
  private def fixture(): (String, String, HadoopStore) = {
    val root = tempUri("graft-dml-spec")
    val cat = s"dml${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root, new HadoopStore(root))
  }

  private def land(root: String, hour: String, lo: Int, n: Int): Seq[String] = {
    import spark.implicits._
    LakeWriter.write(
      (lo until lo + n).map(i => (i.toLong, s"t${i % 5}", i * 1.0))
        .toDF("id", "tag", "v").orderBy("id").coalesce(1),
      schema, root, Instant.parse(hour), maxRecordsPerObject = 250L,
      zoneMaps = true, bloomColumns = Seq("tag")).map(_.key)
  }

  private def bytesOf(store: Store, key: String): Array[Byte] = {
    val in = store.open(key)
    try in.readAllBytes() finally in.close()
  }

  private def keysOf(store: Store) = LakeReader.listTableKeys(store, "ev", None)

  test("DELETE with a probe condition takes the metadata path: plan is DeleteFromTable, non-matching objects byte-identical, sidecars rebuilt") {
    val (cat, root, store) = fixture()
    land(root, "2024-07-01T08:00:00Z", 0, 1000)
    // a second hour whose objects hold NO t3 rows at all: the bloom
    // probe must skip them without a scan OR a rewrite
    import spark.implicits._
    LakeWriter.write(
      (1000 until 1400).filter(_ % 5 != 3).map(i => (i.toLong, s"t${i % 5}", i * 1.0))
        .toDF("id", "tag", "v").orderBy("id").coalesce(1),
      schema, root, Instant.parse("2024-07-01T09:00:00Z"),
      maxRecordsPerObject = 250L, zoneMaps = true, bloomColumns = Seq("tag"))
    val h9 = keysOf(store).filter(_.startsWith("2024/07/01/09/"))
    val untouched = h9.map(k => k -> bytesOf(store, k)).toMap

    val d = spark.sql(s"DELETE FROM $cat.ev WHERE tag = 't3'")
    val plan = d.queryExecution.executedPlan.toString
    assert(plan.contains("DeleteFromTable") && !plan.contains("ReplaceData"),
      s"probe deletes must stay metadata-path:\n$plan")
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev WHERE tag = 't3'")
      .head.getLong(0) == 0)
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev").head.getLong(0) == 1120,
      "2000 - 200 (h8 t3) - 0 (h9 had none) ... minus h9's absent t3 slice")
    untouched.foreach { case (k, before) =>
      assert(bytesOf(store, k).sameElements(before),
        s"bloom-refuted object $k must stay byte-identical")
    }
    // rewritten h8 objects keep the table's sidecar convention
    val h8 = keysOf(store).filter(_.startsWith("2024/07/01/08/"))
    h8.foreach { k =>
      assert(ZoneMaps.read(store, k).nonEmpty && BloomMaps.read(store, k).nonEmpty,
        s"rewritten object $k must carry the table's sidecars")
    }
  }

  test("a TWO-COLUMN conjunctive DELETE stays metadata-path: plan is DeleteFromTable, candidate set is the AND of per-column probes") {
    val (cat, root, store) = fixture()
    land(root, "2024-07-01T08:00:00Z", 0, 1000)
    // a second hour with NO t3 rows: the tag-bloom refutes it even
    // though the id band (3..) covers — the conjunction must skip it
    import spark.implicits._
    LakeWriter.write(
      (0 until 400).filter(_ % 5 != 3).map(i => (i.toLong, s"t${i % 5}", i * 1.0))
        .toDF("id", "tag", "v").orderBy("id").coalesce(1),
      schema, root, Instant.parse("2024-07-01T09:00:00Z"),
      maxRecordsPerObject = 250L, zoneMaps = true, bloomColumns = Seq("tag"))
    val h9 = keysOf(store).filter(_.startsWith("2024/07/01/09/"))
    val untouched = h9.map(k => k -> bytesOf(store, k)).toMap

    val d = spark.sql(s"DELETE FROM $cat.ev WHERE tag = 't3' AND id IN (3, 8, 13)")
    val plan = d.queryExecution.executedPlan.toString
    assert(plan.contains("DeleteFromTable") && !plan.contains("ReplaceData"),
      s"a conjunctive probe DELETE must stay metadata-path:\n$plan")
    // ids 3, 8, 13 all carry tag t3 in hour 08 — exactly 3 rows go
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev WHERE _event_hour = " +
        "TIMESTAMP '2024-07-01 08:00:00+00:00'").head.getLong(0) == 997)
    // conjunction semantics: t3 rows with OTHER ids survive
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev WHERE tag = 't3' AND " +
        "_event_hour = TIMESTAMP '2024-07-01 08:00:00+00:00'")
      .head.getLong(0) == 197)
    untouched.foreach { case (k, before) =>
      assert(bytesOf(store, k).sameElements(before),
        s"bloom-refuted object $k must stay byte-identical under the conjunction")
    }
  }

  test("a DELETE whose hour bounds admit ZERO objects is a NO-OP, not an error (misaligned equality; out-of-range bound)") {
    val (cat, root, store) = fixture()
    land(root, "2024-07-01T08:00:00Z", 0, 500)
    val before = keysOf(store).map(k => k -> bytesOf(store, k)).toMap
    // misaligned _event_hour equality translates to an inverted range
    spark.sql(s"DELETE FROM $cat.ev WHERE tag = 't1' AND " +
      "_event_hour = TIMESTAMP '2024-07-01 08:30:00+00:00'")
    // an hour bound wholly outside the table's data
    spark.sql(s"DELETE FROM $cat.ev WHERE tag = 't1' AND " +
      "_event_hour >= TIMESTAMP '2031-01-01 00:00:00+00:00'")
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev").head.getLong(0) == 500)
    before.foreach { case (k, b) =>
      assert(bytesOf(store, k).sameElements(b),
        s"a no-op DELETE must leave $k byte-identical")
    }
    // the loud failure survives for a truly ABSENT table: unchanged
    intercept[Exception] {
      LakeMaintenance.deleteWhere(spark, store, "no_such_table", "tag",
        Seq("t1"), Some((Instant.parse("2024-07-01T08:00:00Z"),
          Instant.parse("2024-07-01T08:00:00Z"))))
    }
  }

  test("DELETE on a pure _event_hour range is SQL retention: in-range objects retire wholesale, nothing rewrites") {
    val (cat, root, store) = fixture()
    land(root, "2024-07-01T08:00:00Z", 0, 500)
    land(root, "2024-07-01T09:00:00Z", 500, 500)
    land(root, "2024-07-01T10:00:00Z", 1000, 500)
    val keep = keysOf(store).filterNot(_.startsWith("2024/07/01/08/"))
      .map(k => k -> bytesOf(store, k)).toMap

    // a MISALIGNED upper bound tightens inward: < 09:30 admits hours
    // <= 09:00 BUT hour-09 rows sit AT 09:00 < 09:30 — so 08 and 09 go
    spark.sql(s"DELETE FROM $cat.ev WHERE _event_hour < TIMESTAMP '2024-07-01 09:30:00+00:00'")
    val left = keysOf(store)
    assert(left.forall(_.startsWith("2024/07/01/10/")), s"hours 08+09 retire: $left")
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev").head.getLong(0) == 500)
    left.foreach { k =>
      assert(bytesOf(store, k).sameElements(keep(k)),
        s"out-of-range object $k must stay byte-identical")
    }
  }

  test("DELETE by _object_key retires exactly the named objects (the audit remedy as SQL)") {
    val (cat, root, store) = fixture()
    val keys = land(root, "2024-07-01T08:00:00Z", 0, 1000)
    assert(keys.size == 4)
    val doomed = keys.head
    spark.sql(s"DELETE FROM $cat.ev WHERE _object_key = '$doomed'")
    assert(!store.exists(doomed) && keysOf(store).size == 3)
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev").head.getLong(0) == 750)
  }

  test("arbitrary-predicate DELETE goes copy-on-write: runtime group filter fires on _object_key, only matching groups rewrite") {
    val (cat, root, store) = fixture()
    // ids 0..999 in 4 objects of 250: id%977==0 hits ids {0, 977} —
    // objects 1 and 2 (250..749) hold no match and must survive untouched
    val keys = land(root, "2024-07-01T08:00:00Z", 0, 1000)
    val untouched = keys.tail.init.map(k => k -> bytesOf(store, k)).toMap

    val d = spark.sql(s"DELETE FROM $cat.ev WHERE id % 977 = 0")
    val plan = d.queryExecution.executedPlan.toString
    assert(plan.contains("ReplaceData"), s"COW delete must ReplaceData:\n$plan")
    assert(plan.contains("dynamicpruningexpression(_object_key"),
      s"group runtime filter must key on _object_key:\n$plan")
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev").head.getLong(0) == 998)
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev WHERE id % 977 = 0")
      .head.getLong(0) == 0)
    untouched.foreach { case (k, before) =>
      assert(store.exists(k) && bytesOf(store, k).sameElements(before),
        s"group-filtered-out object $k must stay byte-identical")
    }
    assert(keys.take(1) ++ keys.takeRight(1) forall (!store.exists(_)),
      "matching groups' originals retire")
    assert(store.list("_staging").isEmpty, "no staging residue")
  }

  test("UPDATE rewrites only the statically-pruned groups, rows stay in their hour, sidecar convention preserved") {
    val (cat, root, store) = fixture()
    val h8 = land(root, "2024-07-01T08:00:00Z", 0, 1000)
    val h9 = land(root, "2024-07-01T09:00:00Z", 1000, 1000)
    // band prune: ids 1500..1519 live in exactly one h9 object
    val target = h9(2) // 1500..1749
    val untouched = (h8 ++ h9.filterNot(_ == target))
      .map(k => k -> bytesOf(store, k)).toMap

    val before = spark.sql(s"SELECT sum(v) FROM $cat.ev").head.getDouble(0)
    spark.sql(s"UPDATE $cat.ev SET v = v + 1000 WHERE id >= 1500 AND id < 1520")
    assert(spark.sql(s"SELECT sum(v) FROM $cat.ev").head.getDouble(0)
      == before + 20 * 1000.0)
    untouched.foreach { case (k, b) =>
      assert(store.exists(k) && bytesOf(store, k).sameElements(b),
        s"band-pruned object $k must stay byte-identical")
    }
    assert(!store.exists(target), "the rewritten original retires")
    val replacements = keysOf(store).filterNot(untouched.contains)
    assert(replacements.nonEmpty &&
      replacements.forall(_.startsWith("2024/07/01/09/")),
      s"rewritten rows stay in their own hour: $replacements")
    replacements.foreach { k =>
      assert(ZoneMaps.read(store, k).nonEmpty && BloomMaps.read(store, k).nonEmpty,
        s"replacement $k must carry the table's sidecars")
    }
    // updated rows are really there, via the rewritten object
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.ev WHERE v >= 2500 AND id < 1520 AND id >= 1500")
      .head.getLong(0) == 20)
  }

  test("UPDATE SET _event_hour MOVES rows to the target hour (values floor to the hour grain)") {
    val (cat, root, store) = fixture()
    land(root, "2024-07-01T08:00:00Z", 0, 250)
    spark.sql(s"UPDATE $cat.ev SET _event_hour = TIMESTAMP '2024-07-02 12:15:00+00:00' WHERE id < 100")
    val keys = keysOf(store)
    assert(keys.exists(_.startsWith("2024/07/02/12/")),
      s"moved rows land under the floored target hour: $keys")
    val moved = spark.sql(
      s"SELECT count(*) FROM $cat.ev WHERE _event_hour = TIMESTAMP '2024-07-02 12:00:00+00:00'")
    assert(moved.head.getLong(0) == 100, "floored to 12:00, not 12:15")
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev").head.getLong(0) == 250)
  }

  test("MERGE INTO upserts: matched rows update in place, inserts land under their stated hour") {
    val (cat, root, store) = fixture()
    land(root, "2024-07-01T08:00:00Z", 0, 500)
    import spark.implicits._
    // 10 matched (ids 0,50..450), 5 inserted (ids 1000..1004)
    ((0 until 500 by 50).map(_.toLong) ++ (1000L until 1005L))
      .toDF("id").selectExpr("id", "'m' AS tag", "0.5 AS v",
        "TIMESTAMP '2024-07-01 11:00:00+00:00' AS _event_hour")
      .createOrReplaceTempView("dml_src")
    val m = spark.sql(
      s"""MERGE INTO $cat.ev t USING dml_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = s.v, tag = s.tag
         |WHEN NOT MATCHED THEN INSERT (id, tag, v, _event_hour)
         |  VALUES (s.id, s.tag, s.v, s._event_hour)""".stripMargin)
    assert(m.queryExecution.executedPlan.toString.contains("WriteDelta"),
      "MERGE takes the delta path")
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev").head.getLong(0) == 505)
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev WHERE tag = 'm'")
      .head.getLong(0) == 15)
    // updated rows keep their original hour; inserted rows take theirs
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.ev WHERE tag = 'm' AND _event_hour = TIMESTAMP '2024-07-01 08:00:00+00:00'")
      .head.getLong(0) == 10)
    assert(keysOf(store).exists(_.startsWith("2024/07/01/11/")),
      "inserted rows land under their stated hour")
    // full-table integrity: non-matched rows untouched value-wise
    assert(spark.sql(
      s"SELECT sum(v) FROM $cat.ev WHERE tag <> 'm'").head.getDouble(0)
      == (0 until 500).filter(i => i % 50 != 0).map(_.toDouble).sum)
  }

  test("detectPolicy samples across hours: a half-indexed table's COW rewrite lands the UNION convention, not a listing-order coin flip") {
    val (cat, root, store) = fixture()
    import spark.implicits._
    // oldest hour WITHOUT sidecars (pre-adoption history)...
    LakeWriter.write(
      (0 until 250).map(i => (i.toLong, s"t${i % 5}", i * 1.0))
        .toDF("id", "tag", "v").orderBy("id").coalesce(1),
      schema, root, Instant.parse("2024-07-01T08:00:00Z"))
    // ...newest hour WITH zone maps + blooms (the adopted convention)
    land(root, "2024-07-01T09:00:00Z", 1000, 250)
    val p = LakeRowLevel.detectPolicy(store, "ev")
    assert(p.zoneMaps && p.bloomColumns == Seq("tag"),
      s"mixed conventions must union, not coin-flip: $p")
    // a COW UPDATE that rewrites ONLY the un-indexed old hour must
    // still index its replacements under the table's adopted convention
    spark.sql(s"UPDATE $cat.ev SET v = -1 WHERE id = 3")
    val h8 = keysOf(store).filter(_.startsWith("2024/07/01/08/"))
    assert(h8.nonEmpty)
    h8.foreach { k =>
      assert(ZoneMaps.read(store, k).nonEmpty && BloomMaps.read(store, k).nonEmpty,
        s"replacement $k must carry the adopted sidecars")
    }
  }

  test("TRUNCATE TABLE retires every object; unconditional DELETE too") {
    val (cat, root, store) = fixture()
    land(root, "2024-07-01T08:00:00Z", 0, 500)
    land(root, "2024-07-02T08:00:00Z", 500, 500)
    spark.sql(s"TRUNCATE TABLE $cat.ev")
    assert(keysOf(store).isEmpty, "truncate retires everything")
  }

  test("reconcile tables refuse row-level SQL with the compact-first remedy") {
    val (cat, root, _) = fixture()
    land(root, "2024-07-01T08:00:00Z", 0, 250)
    val rcat = s"r$cat"
    spark.conf.set(s"spark.sql.catalog.$rcat", classOf[LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$rcat.root", root)
    spark.conf.set(s"spark.sql.catalog.$rcat.reconcile", "true")
    val e = intercept[Throwable] {
      spark.sql(s"UPDATE $rcat.ev SET v = 0 WHERE id = 1")
    }
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(msgs.contains("compact"), s"remedy named: $msgs")
  }

  test("translateDelete: hour bounds round INWARD; probe shapes exact; everything else refused to COW") {
    import LakeRowLevel._
    import org.apache.spark.sql.sources._
    def ts(s: String) = java.sql.Timestamp.from(Instant.parse(s))
    val hour = LakeDataSource.EventHourCol
    val sch = schema
    def t1(f: Filter*) = translateV1(f.toArray, sch)

    // >= misaligned rounds UP (rows at 08:00 are NOT >= 08:30)
    assert(t1(GreaterThanOrEqual(hour, ts("2024-07-01T08:30:00Z")))
      == Some(DeleteByHours(Some(Instant.parse("2024-07-01T09:00:00Z")), None)))
    // >= aligned keeps; > aligned strictly advances
    assert(t1(GreaterThanOrEqual(hour, ts("2024-07-01T08:00:00Z")))
      == Some(DeleteByHours(Some(Instant.parse("2024-07-01T08:00:00Z")), None)))
    assert(t1(GreaterThan(hour, ts("2024-07-01T08:00:00Z")))
      == Some(DeleteByHours(Some(Instant.parse("2024-07-01T09:00:00Z")), None)))
    // < aligned backs off one hour; <= floors
    assert(t1(LessThan(hour, ts("2024-07-01T09:00:00Z")))
      == Some(DeleteByHours(None, Some(Instant.parse("2024-07-01T08:00:00Z")))))
    assert(t1(LessThanOrEqual(hour, ts("2024-07-01T09:59:00Z")))
      == Some(DeleteByHours(None, Some(Instant.parse("2024-07-01T09:00:00Z")))))
    // misaligned equality admits NOTHING (from > to)
    t1(EqualTo(hour, ts("2024-07-01T08:30:00Z"))) match {
      case Some(DeleteByHours(Some(f), Some(t))) => assert(f.isAfter(t))
      case other => fail(s"misaligned hour equality: $other")
    }
    // probe + hour bound compose; IsNotNull on the probe column is inert
    assert(t1(EqualTo("tag", "t1"), LessThan(hour, ts("2024-07-01T09:00:00Z")),
        IsNotNull("tag"))
      == Some(DeleteByProbe(Seq("tag" -> Seq("t1")), Some((
        Instant.EPOCH, Instant.parse("2024-07-01T08:00:00Z"))))))
    // IN probe alone
    assert(t1(In("id", Array(1L, 2L)))
      == Some(DeleteByProbe(Seq("id" -> Seq(1L, 2L)), None)))
    // a CONJUNCTION of probe columns stays metadata-path (the two-column
    // GDPR shape) — conjoined exact probes are exact; IsNotNull seeded
    // BEFORE its equality is inert too
    assert(t1(EqualTo("tag", "t1"), EqualTo("id", 3L))
      == Some(DeleteByProbe(Seq("tag" -> Seq("t1"), "id" -> Seq(3L)), None)))
    assert(t1(IsNotNull("tag"), In("tag", Array("a", "b")),
        EqualTo("id", 7L), GreaterThanOrEqual(hour, ts("2024-07-01T08:00:00Z")))
      == Some(DeleteByProbe(Seq("tag" -> Seq("a", "b"), "id" -> Seq(7L)),
        Some((Instant.parse("2024-07-01T08:00:00Z"),
          Instant.parse("9999-01-01T00:00:00Z"))))))
    // object-key membership
    assert(t1(In(LakeDataSource.ObjectKeyCol, Array("2024/07/01/08/ev/x.csv.gz")))
      == Some(DeleteByKeys(Seq("2024/07/01/08/ev/x.csv.gz"))))
    // refusals → COW: the SAME column probed twice (an intersection the
    // IN-probe cannot express), empty-string value, IsNotNull on a
    // non-probe column, keys mixed with other conjuncts
    assert(t1(EqualTo("tag", "t1"), EqualTo("tag", "t2")).isEmpty)
    assert(t1(EqualTo("tag", "t1"), In("tag", Array("t1", "t2"))).isEmpty)
    assert(t1(EqualTo("tag", "")).isEmpty)
    assert(t1(IsNotNull("v")).isEmpty)
    assert(t1(In(LakeDataSource.ObjectKeyCol, Array("2024/07/01/08/ev/x.csv.gz")),
      EqualTo("tag", "t1")).isEmpty)
  }
  test("retireObjectsDistributed: the fan-out path retires every named object with the manifest discipline intact") {
    val (_, root, store) = fixture()
    val keys = land(root, "2024-07-01T08:00:00Z", 0, 1000) ++
      land(root, "2024-07-01T09:00:00Z", 1000, 1000)
    Manifests.seal(store, "ev", Instant.parse("2024-07-01T09:00:00Z"))
    val doomed = keys.take(6)
    val n = KeyWalk.pinned(KeyWalk.OnExecutors())( // force the executor fan-out at spec scale
      LakeMaintenance.retireObjects(store, doomed))
    assert(n == 6)
    assert(doomed.forall(!store.exists(_)))
    assert(!store.exists(Manifests.manifestKey("ev")),
      "retiring sealed keys must invalidate the manifest")
    assert(keysOf(store).size == keys.size - 6)
  }

  test("MERGE arms: MATCHED DELETE and NOT MATCHED BY SOURCE apply through the delta write") {
    val (cat, root, _) = fixture()
    land(root, "2024-07-01T08:00:00Z", 0, 500)
    import spark.implicits._
    (0L until 100L).toDF("id").createOrReplaceTempView("dml_arms_src")
    spark.sql(
      s"""MERGE INTO $cat.ev t USING dml_arms_src s ON t.id = s.id
         |WHEN MATCHED AND t.id % 2 = 0 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET v = -1
         |WHEN NOT MATCHED BY SOURCE AND t.id >= 450 THEN DELETE""".stripMargin)
    // 0..99 even (50) deleted; 0..99 odd (50) v=-1; 450..499 (50) deleted
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev").head.getLong(0) == 400)
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev WHERE v = -1")
      .head.getLong(0) == 50)
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.ev WHERE id < 100 AND id % 2 = 0")
      .head.getLong(0) == 0)
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev WHERE id >= 450")
      .head.getLong(0) == 0)
    assert(spark.sql(s"SELECT sum(v) FROM $cat.ev WHERE id BETWEEN 100 AND 449")
      .head.getDouble(0) == (100 until 450).map(_.toDouble).sum,
      "rows outside every arm ride through unchanged")
  }

  test("translateV1 hour bounds are EXACT (seeded randomized): translated hour set == brute-forced SQL admission over every hour") {
    import LakeRowLevel._
    import org.apache.spark.sql.sources._
    val base = Instant.parse("2024-07-01T00:00:00Z")
    val hours = (0 to 73).map(h => base.plusSeconds(h * 3600L))
    val rnd = new scala.util.Random(20260815L)
    val sch = schema
    for (_ <- 0 until 500) {
      val conjuncts = (0 to rnd.nextInt(2)).map { _ =>
        // bounds hit aligned instants ~1/3 of the time — the edge the
        // rounding table lives for
        val secs =
          if (rnd.nextInt(3) == 0) rnd.nextInt(74) * 3600L
          else rnd.nextInt(74 * 3600)
        val at = base.plusSeconds(secs)
        val ts = java.sql.Timestamp.from(at)
        (rnd.nextInt(5) match {
          case 0 => GreaterThan(LakeDataSource.EventHourCol, ts)
          case 1 => GreaterThanOrEqual(LakeDataSource.EventHourCol, ts)
          case 2 => LessThan(LakeDataSource.EventHourCol, ts)
          case 3 => LessThanOrEqual(LakeDataSource.EventHourCol, ts)
          case _ => EqualTo(LakeDataSource.EventHourCol, ts)
        }, at)
      }
      def admits(h: Instant): Boolean = conjuncts.forall {
        case (GreaterThan(_, _), at) => h.isAfter(at)
        case (GreaterThanOrEqual(_, _), at) => !h.isBefore(at)
        case (LessThan(_, _), at) => h.isBefore(at)
        case (LessThanOrEqual(_, _), at) => !h.isAfter(at)
        case (EqualTo(_, _), at) => h == at
        case _ => fail("unreachable")
      }
      val expected = hours.filter(admits).toSet
      translateV1(conjuncts.map(_._1).toArray, sch) match {
        case Some(DeleteByHours(f, t)) =>
          val got = hours.filter(h =>
            f.forall(!h.isBefore(_)) && t.forall(!h.isAfter(_))).toSet
          assert(got == expected,
            s"conjuncts=${conjuncts.map(c => s"${c._1} @ ${c._2}")} " +
              s"missing=${(expected -- got).toSeq.sorted.take(3)} " +
              s"extra=${(got -- expected).toSeq.sorted.take(3)}")
        case other => fail(s"hours-only conjunction must translate: $other " +
          s"for ${conjuncts.map(_._1)}")
      }
    }
  }

  test("a failing COW task aborts the WHOLE statement: nothing published, nothing retired, staging swept") {
    val (cat, root, store) = fixture()
    land(root, "2024-07-01T08:00:00Z", 0, 500)
    val before = keysOf(store).map(k => k -> bytesOf(store, k)).toMap
    import spark.implicits._
    // one insert row carries a NULL _event_hour — the COW writer fails
    // that TASK loudly mid-write, after other rows may already have
    // staged; the commit must never run
    Seq((0L, "m", 0.5, Option(java.sql.Timestamp.from(
        Instant.parse("2024-07-01T09:00:00Z")))),
      (9999L, "m", 0.5, Option.empty[java.sql.Timestamp]))
      .toDF("id", "tag", "v", "_event_hour")
      .createOrReplaceTempView("dml_null_src")
    val e = intercept[Throwable] {
      spark.sql(
        s"""MERGE INTO $cat.ev t USING dml_null_src s ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET v = s.v
           |WHEN NOT MATCHED THEN INSERT (id, tag, v, _event_hour)
           |  VALUES (s.id, s.tag, s.v, s._event_hour)""".stripMargin)
    }
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("_event_hour"), s"the writer names the fault: $msgs")
    val after = keysOf(store)
    assert(after.toSet == before.keySet, "aborted COW changes no keys")
    before.foreach { case (k, b) =>
      assert(bytesOf(store, k).sameElements(b), s"$k must stay byte-identical")
    }
    assert(store.list("_staging").isEmpty, "staging swept on abort")
    assert(spark.table(s"$cat.ev").where(col("v") === 0.5).count() == 0,
      "no partial merge visible")
  }

}
