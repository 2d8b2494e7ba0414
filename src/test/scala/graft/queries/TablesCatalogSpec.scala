package graft.queries

import graft.{Fs, SparkSuite}
import org.apache.spark.sql.types.{LongType, TimestampType}

/** The session schema catalog behind [[Tables.t]]: a warm read runs no
  * inference job, and a cached schema never outlives the files or the
  * session confs it was inferred from. */
class TablesCatalogSpec extends SparkSuite {

  private def withTempDir(body: String => Unit): Unit = {
    val d = tempDir("graft-catalog")
    try body(d.toString) finally Fs.deleteRecursively(d.toFile)
  }

  test("a second Tables.t on an unchanged table runs no Spark job") {
    withTempDir { dir =>
      spark.range(100).selectExpr("id", "id * 2 AS v").write.parquet(s"$dir/t1.parquet")
      val cold = jobsDuring { Tables.t(spark, dir, "t1") }
      assert(cold >= 1, "the first read infers the schema with a job")
      var warm: org.apache.spark.sql.DataFrame = null
      assert(jobsDuring { warm = Tables.t(spark, dir, "t1") } == 0)
      assert(warm.schema.fieldNames.toSeq == Seq("id", "v"))
      assert(warm.selectExpr("sum(v)").head().getLong(0) == 9900L)
    }
  }

  test("overwriting the table with another schema re-infers on the next read") {
    withTempDir { dir =>
      val path = s"$dir/t2.parquet"
      spark.range(10).selectExpr("id AS a").write.parquet(path)
      assert(Tables.t(spark, dir, "t2").schema.fieldNames.toSeq == Seq("a"))
      spark.range(10).selectExpr("CAST(id AS STRING) AS b", "id AS c")
        .write.mode("overwrite").parquet(path)
      val df = Tables.t(spark, dir, "t2")
      assert(df.schema.fieldNames.toSeq == Seq("b", "c"))
      assert(df.count() == 10)
    }
  }

  test("a session with other parquet confs never sees a schema inferred under these") {
    withTempDir { dir =>
      // a TIMESTAMP(NANOS) column: readable only as raw long nanos under
      // nanosAsLong=true (graft.Sessions), unreadable without it
      val path = s"$dir/nanos.parquet"
      val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
        "message m { required int64 ts (TIMESTAMP(NANOS,true)); required int64 k; }")
      val conf = new org.apache.hadoop.conf.Configuration()
      val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
        .builder(new org.apache.hadoop.fs.Path(s"$path/part-0.parquet"))
        .withConf(conf).withType(schema).build()
      try {
        val g = new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
        w.write(g.newGroup().append("ts", 1704067200000000000L).append("k", 1L))
      } finally w.close()

      val raw = SchemaCatalog.read(spark, path).schema
      assert(raw("ts").dataType == LongType)
      assert(Tables.t(spark, dir, "nanos").schema("ts").dataType == TimestampType)

      val other = spark.newSession()
      other.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
      val plain = intercept[Exception](other.read.parquet(path).schema)
      val viaCatalog = intercept[Exception](Tables.t(other, dir, "nanos"))
      assert(viaCatalog.getClass == plain.getClass,
        s"the sibling session must infer for itself and fail as a plain read does: $viaCatalog")
      // the same holds inside one session whose conf changes after the read
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
      try assert(intercept[Exception](Tables.t(spark, dir, "nanos")).getClass == plain.getClass)
      finally spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    }
  }

  test("a self-join of two Tables.t reads resolves both sides with distinct attributes") {
    val dir = sf("sf0.001")
    Tables.t(spark, dir, "nation") // warm: both reads below come from the catalog
    val a = Tables.t(spark, dir, "nation")
    val b = Tables.t(spark, dir, "nation")
    val ids = (df: org.apache.spark.sql.DataFrame) =>
      df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(ids(a).intersect(ids(b)).isEmpty)
    // every nation's region key names exactly one nation key (25 nations, keys 0-24)
    val j = a.join(b, a("n_nationkey") === b("n_regionkey"))
    assert(j.count() == 25)
  }
}
