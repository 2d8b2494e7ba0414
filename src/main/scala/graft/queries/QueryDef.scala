package graft.queries

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** One verifiable query: the Spark implementation plus (when the semantics
  * are ANSI-SQL-expressible) the equivalent DuckDB oracle SQL. Queries with
  * no oracle get the driver's weaker rows-only check. */
final case class QueryDef(fn: (SparkSession, String) => DataFrame, oracle: Option[String])

object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The testdata's time columns, by name: the columns eligible for the
    * raw-nanos LongType repair in [[t]] (a long is only knowably
    * nanos-since-epoch when we know the column is a time column). */
  val timeColumns: Set[String] = Set("ts", "o_orderdate", "l_shipdate")

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = SchemaCatalog.read(spark, s"$dir/$name.parquet")
    // Normalize every time column to TimestampType (micro precision) so
    // downstream epoch arithmetic is uniform, whatever parquet flavor the
    // generator emitted. Two flavors have been observed across testdata
    // regenerations:
    //  - TIMESTAMP(NANOS), which Spark reads only as long nanos
    //    (spark.sql.legacy.parquet.nanosAsLong=true, set by graft.Sessions);
    //  - timestamp[us] without a timezone, which Spark reads as
    //    TIMESTAMP_NTZ — a type that forbids cast-to-BIGINT and broke
    //    q29/q41 in round 6. NTZ→TZ is an identity under the UTC session.
    df.schema.fields.foldLeft(df) {
      case (acc, f) if timeColumns(f.name) && f.dataType == org.apache.spark.sql.types.LongType =>
        acc.withColumn(f.name,
          org.apache.spark.sql.functions.expr(s"timestamp_micros(${f.name} DIV 1000)"))
      case (acc, f) if f.dataType == org.apache.spark.sql.types.TimestampNTZType =>
        acc.withColumn(f.name, df.col(f.name).cast(org.apache.spark.sql.types.TimestampType))
      case (acc, _) => acc
    }
  }

  /** Register temp views so `spark.sql` queries can use bare table names. */
  def views(spark: SparkSession, dir: String, tables: String*): Unit =
    tables.foreach(n => t(spark, dir, n).createOrReplaceTempView(n))
}

/** The session's schema catalog for [[Tables.t]]: what a metastore keeps
  * for a path-addressed table. Inferring a Parquet schema runs one Spark
  * job per read (footer scan), ~0.1 s each and one job per table per
  * query; a warm session resolves each table once and then reads it with
  * `spark.read.schema(resolved)`, which runs no job.
  *
  * Metadata only — never data or results: the read itself is the same
  * Parquet scan, listing included. An entry is valid while
  *  - the table's recursive file listing (relative name, length, mtime)
  *    is unchanged, so a rewritten or regenerated table re-infers;
  *  - the session's Parquet inference confs (e.g. `nanosAsLong`) read as
  *    they did at inference.
  * Entries are per `SparkSession` and held weakly: a sibling session
  * (`newSession()`) with other confs never sees this one's schemas, and a
  * stopped, unreferenced session takes its entries with it. A path that
  * cannot be listed is not cached; the plain inferring read then raises
  * Spark's own error. */
private[graft] object SchemaCatalog {
  /** Session confs that change what Parquet inference returns. */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp", "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema", "spark.sql.caseSensitive")

  private final case class Entry(fingerprint: Seq[(String, Long, Long)],
                                 confs: Seq[String], schema: StructType)

  private val bySession = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, Entry]]())

  private def entries(spark: SparkSession) = bySession.computeIfAbsent(spark,
    _ => new java.util.concurrent.ConcurrentHashMap[String, Entry]())

  def read(spark: SparkSession, path: String): DataFrame = {
    val confs = inferenceConfs.map(k => spark.conf.getOption(k).getOrElse(""))
    // listed BEFORE inference: a rewrite racing the inference leaves an
    // entry whose fingerprint is already stale, so the next read re-infers
    fingerprint(spark.sessionState.newHadoopConf(), path) match {
      case None => spark.read.parquet(path)
      case Some(fp) =>
        val known = entries(spark)
        Option(known.get(path)).filter(e => e.fingerprint == fp && e.confs == confs) match {
          case Some(e) => spark.read.schema(e.schema).parquet(path)
          case None =>
            val df = spark.read.parquet(path)
            known.put(path, Entry(fp, confs, df.schema))
            df
        }
    }
  }

  /** Sorted (relative name, length, mtime) of every file under `path`,
    * None when it cannot be listed. */
  private[graft] def fingerprint(conf: Configuration, path: String): Option[Seq[(String, Long, Long)]] =
    try {
      val root = new Path(path)
      val fs = root.getFileSystem(conf)
      val base = fs.makeQualified(root).toUri.getPath
      val files = Vector.newBuilder[(String, Long, Long)]
      // listStatus, not listFiles: a FileStatus already carries length
      // and mtime, and the LocatedFileStatus listFiles builds per file
      // forks `ls -ld` on the local filesystem without native Hadoop
      def walk(dir: Path): Unit = fs.listStatus(dir).foreach { f =>
        if (f.isDirectory) walk(f.getPath)
        else files += ((f.getPath.toUri.getPath.stripPrefix(base), f.getLen, f.getModificationTime))
      }
      walk(root)
      Some(files.result().sorted)
    } catch { case _: java.io.IOException => None }
}
