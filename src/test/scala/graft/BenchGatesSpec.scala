package graft

import graft.lake.LakeWriter
import graft.types.{ColType, TableSchema}

import org.apache.spark.sql.functions._

/** The bench's asserted byte-meter ceilings ([[BenchGates]]): the point
  * is that LOSING a pushdown/prune is a byte blow-up the gate catches.
  * The plan-break here is real, not synthetic: the same aggregate runs
  * once through the sidecar aggregate pushdown (metadata-only, ~zero
  * input bytes) and once with `reconcile=true` — which REFUSES the
  * pushdown by design — so the second run is the exact "silently fell
  * back to row scans" regression l19's ceiling exists for. */
class BenchGatesSpec extends SparkSuite {

  test("losing the aggregate pushdown blows l19's input-byte ceiling; keeping it passes") {
    val root = tempUri("graft-gates")
    val schema = TableSchema("gates", Seq(
      "id" -> ColType.CInteger, "v" -> ColType.CInteger))
    import spark.implicits._
    val df = spark.range(300000L).select(col("id"),
      (col("id") % 977).as("v"))
    // gzip OFF so the degraded run's input bytes are unambiguous
    LakeWriter.write(df.repartition(8), schema, root, gzip = false,
      zoneMaps = true)

    def measured(reconcile: Boolean): Meter.Metrics = Meter.measure(spark) {
      spark.read.format("graft-lake").option("table", "gates")
        .option("reconcile", reconcile.toString).load(root)
        .agg(count(lit(1)).as("n"), min("v").as("mn"), max("v").as("mx"))
        .write.format("noop").mode("overwrite").save()
    }._2

    val pushed = measured(reconcile = false)
    val degraded = measured(reconcile = true)
    assert(degraded.inputBytes > 10L * math.max(1L, pushed.inputBytes),
      s"the plan-break must be a byte blow-up: pushed=${pushed.inputBytes} " +
        s"degraded=${degraded.inputBytes}")

    // the PRODUCTION ceiling, fed each run's metrics under l19's name:
    // the degraded plan must trip it, the pushed plan must not
    val ceiling = BenchGates.ceilings("l19_lake_dsv2_agg_pushdown")
      .maxInputBytes.get
    assert(degraded.inputBytes > ceiling,
      s"fixture must be big enough to trip the $ceiling-byte ceiling: " +
        s"${degraded.inputBytes}")
    val fired = BenchGates.violations(
      Map("l19_lake_dsv2_agg_pushdown" -> degraded))
    assert(fired.exists(_.contains("l19_lake_dsv2_agg_pushdown input_bytes")),
      s"gate must fire on the degraded plan: $fired")
    assert(BenchGates.violations(
      Map("l19_lake_dsv2_agg_pushdown" -> pushed)).isEmpty,
      "gate must stay quiet on the pushed plan")
  }

  test("violations are per-metric, sorted by name, and absent meters never fire") {
    val m = Meter.Metrics(inputBytes = Long.MaxValue,
      shuffleBytes = Long.MaxValue, taskMs = 0L)
    val all = BenchGates.violations(
      BenchGates.ceilings.keys.map(_ -> m).toMap)
    // every declared ceiling fires on an absurd meter...
    val expected = BenchGates.ceilings.values.map(c =>
      c.maxInputBytes.size + c.maxShuffleBytes.size).sum
    assert(all.size == expected, s"${all.size} != $expected: $all")
    val names = all.map(_.takeWhile(_ != ' '))
    assert(names == names.sorted, "violations are reported in query order")
    // ...and a metered map missing the query fires nothing
    assert(BenchGates.violations(Map.empty).isEmpty)
  }
  test("losing the COW read bound blows l30's input-byte ceiling; the bounded plan passes") {
    val root = tempUri("graft-gates-dml")
    val schema = TableSchema("gatesup", Seq(
      "id" -> ColType.CInteger, "v" -> ColType.CInteger))
    import spark.implicits._
    // gzip OFF so the degraded run's input bytes are unambiguous
    LakeWriter.write(
      spark.range(300000L).select(col("id"), (col("id") % 977).as("v"))
        .repartitionByRange(16, col("id")),
      schema, root, gzip = false, zoneMaps = true)
    val cat = s"gates${math.abs(root.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.lake.LakeCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)

    // BOUNDED: the band pushdown + group filter keep the rewrite at one
    // object of sixteen (read twice: the matching-rows subquery and the
    // ReplaceData scan — both of one object, never the lake)
    val bounded = Meter.measure(spark) {
      spark.sql(s"UPDATE $cat.gatesup SET v = v + 1 WHERE id >= 1000 AND id < 1200")
    }._2
    // DEGRADED: an unprunable predicate with runtime group filtering
    // OFF — the exact "whole lake rewritten" regression the ceiling
    // exists for
    val gf = "spark.sql.optimizer.runtime.rowLevelOperationGroupFilter.enabled"
    val prev = spark.conf.get(gf)
    val degraded = try {
      spark.conf.set(gf, "false")
      Meter.measure(spark) {
        spark.sql(s"UPDATE $cat.gatesup SET v = v + 1 WHERE id % 3 = 1")
      }._2
    } finally spark.conf.set(gf, prev)

    val ceiling = BenchGates.ceilings("l30_lake_sql_update").maxInputBytes.get
    assert(degraded.inputBytes > ceiling,
      s"fixture must be big enough to trip the $ceiling-byte ceiling: " +
        s"${degraded.inputBytes}")
    assert(degraded.inputBytes > 5L * math.max(1L, bounded.inputBytes),
      s"the plan-break must be a byte blow-up: bounded=${bounded.inputBytes} " +
        s"degraded=${degraded.inputBytes}")
    assert(BenchGates.violations(Map("l30_lake_sql_update" -> degraded))
      .exists(_.contains("l30_lake_sql_update input_bytes")))
    assert(BenchGates.violations(Map("l30_lake_sql_update" -> bounded)).isEmpty,
      s"gate must stay quiet on the bounded plan: ${bounded.inputBytes}")
  }

}
