package graft.lake

import graft.types.{ColType, TableSchema}

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPInputStream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Read side of the lake contract: discovers a table's typed-CSV objects
  * under the `YYYY/MM/DD/HH/{table}/` layout, derives the Spark schema from
  * the `#types` + name header lines, and hands the scan to the built-in CSV
  * datasource (so Catalyst still prunes columns and the `.gz` codec is
  * native).
  *
  * The `#` type line rides on `option("comment", "#")` — dropped by the
  * parser — and the declared schema comes from peeking one object's first
  * two lines on the driver (metadata-sized read, same cost class as parquet
  * footer reads). Hour-prefix partition pruning: `hourRange` turns a time
  * predicate into a path-glob list so unneeded hours are never listed.
  */
object LakeReader {

  final case class LakeSchema(schema: TableSchema, gzip: Boolean)

  /** The lake CSV codec contract, in one place so the batch and streaming
    * readers cannot drift: name header + `#types` comment line, RFC-4180
    * doubled-quote escaping, ISO-8601 timestamps. */
  private val CodecOptions: Map[String, String] = Map(
    "header" -> "true",
    "comment" -> "#",
    // RFC-4180 escapes quotes by doubling; Spark's default escape is `\`
    "escape" -> "\"",
    // RFC-4180 quoted fields may contain newlines (the writer emits them);
    // without multiLine the parser splits such records into garbage rows.
    // Cost: a multiLine CSV file is not SPLITTABLE — acceptable here
    // because lake objects are bounded by the record limit, so the file is
    // already the parallelism unit.
    "multiLine" -> "true",
    // Validate each object's name header against the declared schema
    // instead of binding columns by position: tables without a declared
    // schema re-infer column ORDER per batch (reference semantics), and a
    // positional bind would silently scramble drifted objects' columns.
    // With this, drift fails the scan loudly.
    "enforceSchema" -> "false",
    "timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss[.SSS]XXX",
    "mode" -> "PERMISSIVE")

  /** `_event_hour` from the object key's `YYYY/MM/DD/HH` segment. Key hours
    * are UTC by the write-side contract ([[LakeKeys.objectKey]] formats
    * with `ZoneOffset.UTC`), so the parse pins the offset EXPLICITLY (`X`
    * pattern + literal `Z`) instead of inheriting
    * `spark.sql.session.timeZone`: the repo harness runs UTC sessions, but
    * a library consumer's session may not, and an implicit parse would
    * shift every partition hour by the session offset. Shared by the batch
    * and streaming readers so the two cannot drift. */
  private def eventHourCol: org.apache.spark.sql.Column =
    to_timestamp(
      concat(regexp_extract(input_file_name(), "(\\d{4}/\\d{2}/\\d{2}/\\d{2})/", 1), lit("Z")),
      "yyyy/MM/dd/HHX")

  /** Peek the `#types` and column-name headers of one object. */
  def peekSchema(store: Store, key: String, table: String): TableSchema = {
    val raw = store.open(key)
    val in = if (key.endsWith(".gz")) new GZIPInputStream(raw) else raw
    val rd = new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8))
    try {
      val types = TypedCsv.parseTypesHeader(rd.readLine())
      val names = TypedCsv.splitLine(rd.readLine())
      require(names.length == types.length,
        s"header mismatch in $key: ${names.length} names vs ${types.length} types")
      TableSchema(table, names.zip(types))
    } finally rd.close()
  }

  /** Read every object of `table` from the lake at `rootUri`, optionally
    * restricted to UTC hours in `[fromHour, toHour]` (partition pruning via
    * key prefix — out-of-range hours are never even LISTED: the listing plan
    * is the per-hour `YYYY/MM/DD/HH/table/` directories composed from the
    * range, not a full-lake recursive walk). The result carries an
    * `_event_hour` timestamp column derived from the object key. */
  def read(spark: SparkSession, rootUri: String, table: String,
           hourRange: Option[(java.time.Instant, java.time.Instant)] = None): DataFrame =
    readFrom(spark, new HadoopStore(rootUri), table, hourRange)

  /** Discover every object key of `table` without ever walking the whole
    * lake: ranged reads list exactly the in-range `HH/table/` directories;
    * unranged reads walk the `YYYY/MM/DD/HH` directory LEVELS (one listing
    * call per directory, skipping non-numeric roots like `_staging/`) and
    * then list only this table's own directories — O(hour dirs + this
    * table's objects). The full-lake recursive walk would enumerate every
    * OTHER table's objects too, which at warehouse scale is a driver
    * bottleneck all by itself. */
  def listTableKeys(store: Store, table: String,
                    hourRange: Option[(java.time.Instant, java.time.Instant)],
                    view: Option[LakeVersions.TableView] = None): Seq[String] = {
    val listed = listTableKeysUnversioned(store, table, hourRange)
    // the VERSIONED view: keys a committed generation tombstoned
    // (logically deleted, possibly still on disk — the interrupted-
    // retire crash window and retained time-travel history) and keys an
    // UNCOMMITTED publish renamed into place (its intent has no
    // committed record) are not part of the table. One listing of
    // `_versions/<table>/` decides; a never-mutated table takes the
    // empty fast path and pays nothing else. Callers that already
    // resolved the view (for the delete-vector map) pass it in so the
    // version directory is read once per scan, not twice.
    val excl = view.fold(LakeVersions.exclusions(store, table))(_.excl)
    if (excl.isEmpty) listed else listed.filterNot(excl)
  }

  private[lake] def listTableKeysUnversioned(store: Store, table: String,
                    hourRange: Option[(java.time.Instant, java.time.Instant)]): Seq[String] = {
    // header first (a ranged-size read): a range entirely ABOVE the seal
    // point — the streaming-discovery hot path, whose frontier quickly
    // outruns any manifest — must never download a years-old table's
    // full key list just to filter all of it out
    val headerUpTo = Manifests.readHeader(store, table)
    val fullyLive = headerUpTo.exists(upTo => hourRange.exists { case (from, _) =>
      LakeKeys.datePrefix(from.truncatedTo(
        java.time.temporal.ChronoUnit.HOURS)) > upTo
    })
    if (headerUpTo.isEmpty || fullyLive)
      rawListTableKeys(store, table, hourRange)
    else Manifests.read(store, table) match {
      case Some(m) =>
        // sealed hours come off the manifest (ONE object read), the
        // unsealed tail off the live walk — at warehouse scale this
        // replaces one LIST per lifetime hour with a GET plus the tail
        import java.time.temporal.ChronoUnit
        val bounds = hourRange.map { case (from, to) =>
          (LakeKeys.datePrefix(from.truncatedTo(ChronoUnit.HOURS)),
            LakeKeys.datePrefix(to.truncatedTo(ChronoUnit.HOURS)))
        }
        val sealedKeys = m.keys.filter { k =>
          val h = LakeKeys.hourPrefixOf(k)
          bounds.forall { case (lo, hi) => h >= lo && h <= hi }
        }
        val liveFrom = LakeStreamOffset.hourInstant(m.upTo)
          .plus(1, ChronoUnit.HOURS)
        val liveRange = hourRange match {
          case Some((from, to)) =>
            if (to.isBefore(liveFrom)) None // range fully sealed
            else Some((if (from.isAfter(liveFrom)) from else liveFrom, to))
          case None =>
            Some((liveFrom, java.time.Instant.parse("9999-12-31T23:00:00Z")))
        }
        sealedKeys ++ liveRange.fold(Seq.empty[String])(r =>
          rawListTableKeys(store, table, Some(r)))
      case None => rawListTableKeys(store, table, hourRange)
    }
  }

  /** [[listTableKeys]] without the manifest consult — the raw walk.
    * [[Manifests.seal]] builds FROM this (the manifest may not feed
    * itself), and the manifest path above uses it for the live tail. */
  private[lake] def rawListTableKeys(store: Store, table: String,
                    hourRange: Option[(java.time.Instant, java.time.Instant)]): Seq[String] = {
    import java.time.temporal.ChronoUnit
    val keys = hourRange match {
      case Some((from, to)) =>
        val start = from.truncatedTo(ChronoUnit.HOURS)
        val end = to.truncatedTo(ChronoUnit.HOURS)
        val span = ChronoUnit.HOURS.between(start, end) + 1
        if (span <= 0) Seq.empty
        else if (span <= RangeEnumerateMaxHours)
          LakeKeys.hourPrefixes(from, to).flatMap(pfx => store.list(s"$pfx/$table"))
        else {
          // a WIDE range (half-open predicates like `_event_hour >= t`
          // compiled against a far sentinel) must not enumerate millions
          // of mostly-absent hour directories — walk the hours that EXIST
          // (the same pruned level walk as the unranged read), bounded on
          // BOTH ends (the lower bound keeps a manifest-backed read's
          // live tail from re-walking years of sealed day directories);
          // zero-padded prefixes make both bounds string compares
          val lo = LakeKeys.datePrefix(start)
          val hi = LakeKeys.datePrefix(end)
          walkHourPrefixes(store, after = Some(lo))
            .filter(h => h >= lo && h <= hi)
            .flatMap(h => store.list(s"$h/$table"))
        }
      case None =>
        walkHourPrefixes(store).flatMap(h => store.list(s"$h/$table"))
    }
    keys.filter(k => LakeKeys.parseKey(k).exists(_._2 == table))
  }

  /** Hour-range width above which [[listTableKeys]] stops ENUMERATING the
    * range (one listing call per hour, absent or not) and instead walks
    * the hour directories that exist, filtering to the range: ~5½ months
    * of hours, past which the walk's fixed cost (year/month/day levels)
    * is cheaper than the misses. */
  val RangeEnumerateMaxHours = 4096L

  /** Every existing `YYYY/MM/DD/HH` hour prefix, found by the pruned
    * level walk (the scaladoc above — never a full-lake recursive
    * listing). `before` bounds the walk from ABOVE: only hours strictly
    * before that prefix are visited — the retention path
    * ([[LakeMaintenance.expire]]) shares this walk, so the read side and
    * the delete side can never disagree about which directories exist.
    * `after` bounds it from BELOW (inclusive): directories wholly below
    * that prefix are skipped without listing — a manifest-backed read's
    * live tail never re-walks years of sealed days. Zero-padded
    * segments make the per-level bounds plain string compares. */
  private[lake] def walkHourPrefixes(store: Store,
                                     before: Option[String] = None,
                                     base: String = "",
                                     after: Option[String] = None): Seq[String] = {
    // `base` ("" or a '/'-terminated root like `_zmaps/`) roots the walk
    // under a mirror tree — yielded prefixes stay base-RELATIVE, so the
    // sidecar mirror walks identically to the data walk
    def numeric(s: String, w: Int) = s.length == w && s.forall(_.isDigit)
    def inBound(prefix: String, width: Int) =
      before.forall(b => prefix <= b.take(width)) &&
        after.forall(a => prefix >= a.take(width))
    for {
      y <- store.listDirs(base) if numeric(y, 4) && inBound(y, 4)
      m <- store.listDirs(s"$base$y") if numeric(m, 2) && inBound(s"$y/$m", 7)
      d <- store.listDirs(s"$base$y/$m") if numeric(d, 2) && inBound(s"$y/$m/$d", 10)
      h <- store.listDirs(s"$base$y/$m/$d")
      if numeric(h, 2) && before.forall(b => s"$y/$m/$d/$h" < b) &&
        after.forall(a => s"$y/$m/$d/$h" >= a)
    } yield s"$y/$m/$d/$h"
  }

  /** The FIRST object key of `table`, by the pruned level walk — the
    * metadata-cheapest way to peek a table's schema (no full key
    * listing): O(hour dirs) plus one per-hour listing until a hit. */
  private[lake] def firstTableKey(store: Store, table: String): Option[String] =
    walkHourPrefixes(store).view
      .flatMap(h => store.list(s"$h/$table"))
      .find(k => LakeKeys.parseKey(k).exists(_._2 == table))

  /** [[read]] against an explicit [[Store]] (injectable for tests). */
  def readFrom(spark: SparkSession, store: Store, table: String,
               hourRange: Option[(java.time.Instant, java.time.Instant)] = None): DataFrame = {
    val view = LakeVersions.tableView(store, table)
    val excl = view.excl
    val listed = listTableKeysUnversioned(store, table, hourRange)
    val keys = if (excl.isEmpty) listed else listed.filterNot(excl)
    // merge-on-read: objects with a committed delete vector — or inside
    // a live EQUALITY delete's scope ([[LakeEqDeletes]]) — leave the
    // CSV fast path entirely: they stream through the connector's own
    // position/equality-aware reader ([[dvRead]]); everything else is
    // unchanged
    val eqCompiled = LakeEqDeletes.compile(store, table, view.eqdels)
    def eqOf(k: String) = eqCompiled.filter(_.inScope(k)).map(_.filter)
    val dvPairs = keys.collect {
      case k if view.dvs.contains(k) || eqCompiled.exists(_.inScope(k)) =>
        (k, view.dvs.get(k).map(_.key), eqOf(k)) }
    val dvSet = dvPairs.iterator.map(_._1).toSet
    // Hand Spark the distinct hour/table DIRECTORIES, not every object:
    // at lake scale the per-object path array (millions of entries) is
    // itself a driver burden; directory count is bounded by hours × tables.
    // ignoreMissingFiles: a scan racing LakeMaintenance.compact may plan an
    // object that compaction deletes before the task reads it — skip it
    // (its rows were republished in a compacted object) instead of failing.
    def dirOf(k: String) = k.substring(0, k.lastIndexOf('/'))
    if (excl.isEmpty && dvSet.isEmpty)
      readPaths(spark, store, table, keys, keys.map(dirOf).distinct,
        ignoreMissing = true)
    else {
      // an hour holding an EXCLUDED key (tombstoned history, a crashed
      // publish's intent-hidden — possibly half-copied — object) or a
      // VECTORED one cannot take the directory shape: the glob would
      // read the excluded bytes / resurrect vector-deleted rows. Those
      // hours plan PER-OBJECT — exact and robust to corrupt hidden
      // files — while clean hours keep the bounded directory plan;
      // excluded/vectored keys cluster in the few hours recent
      // mutations touched, so the path array stays small.
      val dirty = excl.map(dirOf) ++ dvSet.map(dirOf)
      val (dirtyKeys, cleanKeys) = keys.partition(k => dirty.contains(dirOf(k)))
      readPaths(spark, store, table, keys,
        cleanKeys.map(dirOf).distinct ++ dirtyKeys.filterNot(dvSet),
        ignoreMissing = true, dvPairs = dvPairs)
    }
  }

  /** The lake as a STREAMING source: monitor `table`'s hour directories and
    * process objects as flushes land — the read-side complement of
    * [[graft.streaming.LakeSink]], closing the loop (collector → lake →
    * streaming consumer). Built on the file streaming source, so discovery,
    * offset tracking (which objects are already processed), and exactly-once
    * per-file semantics are Spark's own. The schema must be declared (a
    * stream can start on an empty lake — peek [[peekSchema]] when objects
    * exist). `maxFilesPerTrigger` bounds micro-batch size for backfills over
    * years of hours.
    *
    * '''Merge-on-read guard is ENFORCED PER TRIGGER''' (round 19 — it
    * was start-time-only through r18). The start-time check below gives
    * the friendly early refusal; after that the stream's glob resolves
    * through [[GuardedLakeFs]] (`graftlake://`), whose driver-side
    * per-trigger listing probes the table's chain and FAILS the query
    * loudly — the next trigger after a delete vector or equality delete
    * lands — with the connector-source remedy in the message. The
    * executor read path is untouched (tasks only `open()`, which
    * delegates straight through): zero per-task RPCs, one memoized
    * chain probe per trigger on the driver.
    *
    * Compaction contract: do NOT run [[LakeMaintenance.compact]] on hours a
    * streaming consumer has not finished — the source tracks files, so a
    * compacted object is discovered as NEW data (its rows re-ingested) and
    * a deleted original can fail an in-flight micro-batch. Compact only
    * behind every consumer's processing frontier (the usual arrangement:
    * compaction trails by a retention window), or set
    * `spark.sql.files.ignoreMissingFiles` on the consuming session to
    * degrade the delete race to a skip. */
  def readStreamOf(spark: SparkSession, rootUri: String, table: String,
                   schema: TableSchema,
                   maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    // the glob stream reads raw files and cannot apply delete vectors —
    // a merge-on-read table must stream through the connector source
    // (format("graft-lake"), whose partitions carry the vector keys)
    require(LakeVersions.currentDvs(new HadoopStore(rootUri), table).isEmpty,
      s"graft-lake: table '$table' carries merge-on-read delete vectors; " +
        "the glob-based readStreamOf would resurrect deleted rows — use " +
        "spark.readStream.format(\"graft-lake\") (vector-aware) instead, " +
        "or CALL lake.system.compact to fold the vectors first")
    require(LakeVersions.currentEqdels(new HadoopStore(rootUri), table).isEmpty,
      s"graft-lake: table '$table' carries live equality deletes; the " +
        "glob-based readStreamOf would resurrect equality-deleted rows — " +
        "use spark.readStream.format(\"graft-lake\") instead, or CALL " +
        "lake.system.compact to fold the deletes first")
    // the per-trigger tripwire: route the glob through the guarded
    // scheme — its driver-side listing re-probes the chain every
    // trigger (see the Scaladoc above and [[GuardedLakeFs]])
    val token = GuardedLakeFs.token(rootUri, table)
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.graftlake.impl", classOf[GuardedLakeFs].getName)
    hconf.set(s"graft.lake.guard.$token.root", rootUri)
    hconf.set(s"graft.lake.guard.$token.table", table)
    val base = spark.readStream
      .schema(schema.structType)
      .options(CodecOptions)
    val tuned = maxFilesPerTrigger.fold(base)(n =>
      base.option("maxFilesPerTrigger", n.toString))
    tuned
      .csv(s"graftlake://$token/*/*/*/*/$table/*")
      .withColumn("_event_hour", eventHourCol)
  }

  /** Schema-EVOLUTION read (opt-in): reconcile objects whose headers drift.
    * The reference's first-record inference (`Collector.ts:291-308`) means
    * two objects of one table can legally carry different column sets or
    * orders; the default [[read]] fails loudly on that (enforceSchema=false
    * — the right strictness for a declared-schema lake). This variant
    * instead groups the objects by their exact header, reads each group
    * with its own schema, and unions BY NAME: a column missing from a
    * group is null-filled, and a column that is INTEGER in one group and
    * FLOAT in another widens to FLOAT. Any other type conflict is
    * irreconcilable and throws — silent coercion across, say,
    * STRING/INTEGER drift would corrupt, not reconcile. Output column
    * order is CONTENT-defined, never listing-defined: object keys end in
    * a random uuid, so "first seen in key order" would reshuffle the
    * reconciled schema from run to run within an hour. Instead the widest
    * header anchors the order (schema evolution accretes columns, so the
    * widest generation is normally the newest; ties break on the smaller
    * header signature), and any column outside the anchor appends
    * name-sorted.
    *
    * Cost note: reconciliation peeks EVERY object's two header lines on
    * the driver (the strict path peeks one). Each peek is a
    * metadata-sized ranged read, but at millions of objects the listing
    * itself is already the bottleneck — a production lake at that scale
    * should persist a schema manifest per flush instead of re-peeking
    * (the [[LakeWriter.WrittenObject]] records carry what's needed). The
    * scan itself still hands Spark one datasource per schema GROUP
    * (bounded by distinct schema versions, not objects), so executor-side
    * parallelism is unchanged. */
  def readReconciled(spark: SparkSession, rootUri: String, table: String,
                     hourRange: Option[(java.time.Instant, java.time.Instant)] = None): DataFrame =
    readReconciledFrom(spark, new HadoopStore(rootUri), table, hourRange)

  /** The union-by-name schema of a DRIFTED table, plus the exact-header
    * groups it merged: peeks EVERY object's two header lines (the
    * documented reconciliation cost — see [[readReconciled]]) and merges
    * with the ONLY two sound widenings (INTEGER→FLOAT; UUID↔STRING,
    * which share a wire type). Any other conflict throws — silent
    * coercion would corrupt, not reconcile. Column order is
    * CONTENT-defined (widest header anchors, ties on the smaller
    * signature, stragglers append name-sorted) so it never depends on
    * uuid-random key listing order. Shared by [[readReconciledFrom]]
    * and the connector's `reconcile` mode. */
  private[lake] def reconciledGroups(store: Store, table: String,
      hourRange: Option[(java.time.Instant, java.time.Instant)] = None)
      : (TableSchema, Seq[(TableSchema, Seq[String])]) = {
    val keys = listTableKeys(store, table, hourRange).sorted
    require(keys.nonEmpty, s"no lake objects for table $table under ${store.rootUri}")
    // group objects by exact header (names + types), first-seen order
    val groups = scala.collection.mutable.LinkedHashMap
      .empty[Seq[(String, ColType)], (TableSchema, scala.collection.mutable.ArrayBuffer[String])]
    for (k <- keys) {
      val sch = peekSchema(store, k, table)
      groups.getOrElseUpdate(sch.columns, (sch, scala.collection.mutable.ArrayBuffer.empty[String]))._2 += k
    }
    // union-by-name type merge (order-free)
    val merged = scala.collection.mutable.LinkedHashMap.empty[String, ColType]
    for ((cols, _) <- groups; (n, t) <- cols) {
      merged.get(n) match {
        case None => merged(n) = t
        case Some(prev) if prev == t => ()
        case Some(prev) if Set(prev, t) == Set[ColType](ColType.CInteger, ColType.CFloat) =>
          merged(n) = ColType.CFloat
        case Some(prev) if Set(prev, t) == Set[ColType](ColType.CUuid, ColType.CString) =>
          merged(n) = ColType.CString
        case Some(prev) => throw new IllegalArgumentException(
          s"irreconcilable schema drift for $table.$n: $prev vs $t " +
            "(only INTEGER->FLOAT widens; anything else needs an explicit migration)")
      }
    }
    // content-defined column order (see scaladoc): widest header anchors,
    // ties on the smaller signature, stragglers append name-sorted
    val anchor = groups.keys.toSeq
      .sortBy(cols => (-cols.size, cols.map { case (n, t) => s"$n:$t" }.mkString(",")))
      .head.map(_._1)
    val ordered = anchor ++ (merged.keySet -- anchor).toSeq.sorted
    (TableSchema(table, ordered.map(n => n -> merged(n))),
      groups.values.toSeq.map { case (sch, ks) => (sch, ks.toSeq) })
  }

  /** [[readReconciled]] against an explicit [[Store]] (injectable for tests). */
  def readReconciledFrom(spark: SparkSession, store: Store, table: String,
                         hourRange: Option[(java.time.Instant, java.time.Instant)] = None): DataFrame = {
    val rootUri = store.rootUri
    val (mergedSchema, groups) = reconciledGroups(store, table, hourRange)
    val outCols = mergedSchema.columns.map { case (n, t) => n -> t.sparkType }
    // merge-on-read: vectored objects route through the position-aware
    // reader under their OWN header group (reconcile tables refuse DML,
    // but a table can evolve INTO reconcile reads after MOR statements)
    val dvMap = LakeVersions.currentDvs(store, table)
    val eqs = LakeEqDeletes.compile(store, table,
      LakeVersions.currentEqdels(store, table))
    def eqOf(k: String) = eqs.filter(_.inScope(k)).map(_.filter)
    groups.map { case (sch, ks) =>
      val have = sch.columnNames.toSet
      val dvPairs = ks.collect {
        case k if dvMap.contains(k) || eqs.exists(_.inScope(k)) =>
          (k, dvMap.get(k).map(_.key), eqOf(k)) }
      val routedSet = dvPairs.iterator.map(_._1).toSet
      val clean = ks.filterNot(routedSet)
      val csvPart =
        if (clean.isEmpty) None
        else Some(spark.read
          .schema(sch.structType)
          .options(CodecOptions)
          .csv(clean.map(k => s"${rootUri.stripSuffix("/")}/$k"): _*)
          .withColumn("_event_hour", eventHourCol))
      val dvPart =
        if (dvPairs.isEmpty) None
        else Some(dvRead(spark, rootUri, table, sch, dvPairs,
          ignoreMissing = false))
      Seq(csvPart, dvPart).flatten.reduce(_.unionByName(_))
        .select(outCols.map { case (n, dt) =>
          (if (have(n)) col(n).cast(dt) else lit(null).cast(dt)).as(n)
        } :+ col("_event_hour"): _*)
    }.reduce(_.union(_))
  }

  /** Read EXACTLY the given object keys (a listing snapshot) — no
    * re-listing, no directory expansion. Used by compaction, where reading
    * more than the snapshot would duplicate concurrently-flushed rows.
    * Missing files are an ERROR here (never skipped): compaction deletes
    * the snapshot's keys after rewriting, so silently dropping one would
    * turn into data loss, not a transient duplicate.
    *
    * `dvs` (merge-on-read): None resolves the CURRENT committed
    * delete-vector map — the right default for every live rewrite
    * (compaction, delete_where), which must consume live rows, never
    * vector-deleted ones. Callers that already resolved a view — or
    * need a specific GENERATION's map (the changes feed), or raw
    * physical rows (sidecar builds: sidecars describe whole objects) —
    * pass it explicitly. */
  def readKeys(spark: SparkSession, store: Store, table: String,
               keys: Seq[String],
               dvs: Option[Map[String, LakeVersions.DvRef]] = None,
               // equality deletes to apply ([[LakeEqDeletes]]): None
               // resolves the CURRENT live list (the right default for
               // live rewrites); Some(Nil) reads raw physical rows
               // (sidecar builds); the feed passes a generation's own
               eq: Option[Seq[LakeEqDeletes.Compiled]] = None): DataFrame = {
    val dvMap = dvs.getOrElse(LakeVersions.currentDvs(store, table))
    val eqs = eq.getOrElse(LakeEqDeletes.compile(store, table,
      LakeVersions.currentEqdels(store, table)))
    def eqOf(k: String) = eqs.filter(_.inScope(k)).map(_.filter)
    val dvPairs = keys.collect {
      case k if dvMap.contains(k) || eqs.exists(_.inScope(k)) =>
        (k, dvMap.get(k).map(_.key), eqOf(k)) }
    val routedSet = dvPairs.iterator.map(_._1).toSet
    readPaths(spark, store, table, keys,
      keys.filterNot(routedSet), ignoreMissing = false, dvPairs = dvPairs)
  }

  /** `keys` grouped by their OBJECT header (one two-line peek per key) —
    * the unit an EVOLVED table's bulk paths operate at: each group is
    * single-header, so [[readKeys]]' strict CSV read applies per group.
    * Cheap relative to what callers do next (they open every key's data
    * anyway) — and, like every sidecar walk, the peeks go through
    * [[KeyWalk]] (the payload shipped back is one (header, key) pair per
    * object, metadata-sized), so a broad compact/delete on a
    * million-object evolved table never serializes a million GETs
    * through the driver. */
  private[lake] def groupKeysByHeader(store: Store, table: String,
                                      keys: Seq[String])
      : Seq[(TableSchema, Seq[String])] = {
    val pairs = KeyWalk.map(store, keys) { (st, k) =>
      (peekSchema(st, k, table).columns, k)
    }
    pairs.groupBy(_._1).toSeq
      .map { case (cols, ps) => (TableSchema(table, cols), ps.map(_._2).sorted) }
      .sortBy(_._2.head)
  }

  /** Project a single-header frame onto the DECLARED (target) schema:
    * columns the header lacks null-fill, `INTEGER` wires widen under a
    * `FLOAT`-declared column, anything else is irreconcilable drift
    * (loud). `_event_hour` rides through. The schema-evolution read
    * rule, shared by every bulk path ([[readKeysAligned]], compaction,
    * delete_where, the changes feed). */
  private[lake] def alignTo(df: DataFrame, from: TableSchema,
                            target: TableSchema): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val fromTypes = from.columns.toMap
    val cols = target.columns.map { case (n, t) =>
      fromTypes.get(n) match {
        case Some(ft) if ft == t => col(n)
        case Some(graft.types.ColType.CInteger)
            if t == graft.types.ColType.CFloat =>
          col(n).cast(org.apache.spark.sql.types.DoubleType).as(n)
        case Some(ft) => throw new IllegalArgumentException(
          s"irreconcilable drift in table ${target.name}: column $n is " +
            s"$ft on the wire but declared $t — only INTEGER->FLOAT widens")
        case None => lit(null).cast(t.sparkType).as(n)
      }
    } :+ col("_event_hour")
    df.select(cols: _*)
  }

  /** [[readKeys]] for a possibly MIXED-HEADER key set (an evolved
    * table): groups by header, reads each group strictly under its own
    * header, aligns every group onto `target`, unions. A single-header
    * set already matching `target` takes the plain [[readKeys]] path. */
  def readKeysAligned(spark: SparkSession, store: Store, table: String,
                      keys: Seq[String], target: TableSchema,
                      dvs: Option[Map[String, LakeVersions.DvRef]] = None,
                      eq: Option[Seq[LakeEqDeletes.Compiled]] = None): DataFrame = {
    // resolve the vector map and eq list ONCE for all header groups
    // (readKeys would otherwise re-read the version head per group)
    val dvMap = Some(dvs.getOrElse(LakeVersions.currentDvs(store, table)))
    val eqs = Some(eq.getOrElse(LakeEqDeletes.compile(store, table,
      LakeVersions.currentEqdels(store, table))))
    val groups = groupKeysByHeader(store, table, keys)
    groups match {
      case Seq((one, ks)) if one.columns == target.columns =>
        readKeys(spark, store, table, ks, dvMap, eqs)
      case gs => gs.map { case (from, ks) =>
        alignTo(readKeys(spark, store, table, ks, dvMap, eqs), from, target)
      }.reduce(_.unionByName(_))
    }
  }

  /** How a [[readPruned]] call narrowed its object list. */
  final case class PruneReport(candidates: Int, kept: Int) {
    def skipped: Int = candidates - kept
  }

  /** One column's merged statistics in a [[StatsSummary]]. `boundsExact`
    * means every object either recorded real bounds or held only nulls
    * for this column — so `min`/`max` are the TABLE's exact bounds (both
    * None ⟺ the column is entirely null). With `boundsExact = false`
    * (some object's bounds were poisoned — NaN/Infinity/representation
    * drift) the bounds are unusable but `nulls` is still exact. */
  final case class StatsColumn(min: Option[java.math.BigDecimal],
                               max: Option[java.math.BigDecimal],
                               nulls: Long, boundsExact: Boolean)

  /** Whole-table statistics merged from sidecars alone. */
  final case class StatsSummary(objects: Long, records: Long,
                                cols: Map[String, StatsColumn])

  /** METADATA-ONLY table aggregates: COUNT(*), per-column null counts and
    * MIN/MAX answered from the [[ZoneMaps]] sidecars without opening a
    * single data object — the parquet-footer / manifest-stats aggregate
    * pushdown, natively on the lake format. At 100 TB this is the
    * difference between a full scan and a metadata walk (one ~100-byte
    * sidecar read per object; batch through an RDD at warehouse scale,
    * same note as [[readPruned]]).
    *
    * EXACT OR ABSENT, never approximate: returns None the moment ANY
    * in-range object lacks a readable sidecar (stat-less writer, lost or
    * garbage sidecar) — the caller falls back to a real scan. A column
    * absent from any sidecar's map is dropped from the result (schema
    * drift: its stats cannot be summed); a column whose bounds were
    * poisoned in some object keeps its exact null count with
    * `boundsExact = false`. Same snapshot caveat as [[readPruned]]:
    * schedule off compaction windows. */
  /** Sidecar read for the STATS walks: an object with a committed
    * delete vector answers None — its sidecar describes PHYSICAL rows
    * (deleted positions included: min/max/null counts over dead rows
    * are not the live table's), so the exact-or-absent contract demotes
    * it to the scan fallback, which reads vector-applied. */
  private def statRead(st: Store, dvSet: Set[String], k: String)
      : Option[ZoneMaps.ObjectStats] =
    if (dvSet.contains(k)) None else ZoneMaps.read(st, k)

  /** Keys whose sidecars cannot speak for their LIVE rows: vectored
    * objects plus objects inside a live equality delete's scope — both
    * demote to the scan fallback under the exact-or-absent contract. */
  private def statDirtySet(store: Store, table: String,
                           view: LakeVersions.TableView,
                           keys: Seq[String]): Set[String] =
    if (view.eqdels.isEmpty) view.dvs.keySet
    else {
      val eqs = LakeEqDeletes.compile(store, table, view.eqdels)
      view.dvs.keySet ++ keys.filter(k => eqs.exists(_.inScope(k)))
    }

  def statsSummary(store: Store, table: String,
                   hourRange: Option[(java.time.Instant, java.time.Instant)] = None)
      : Option[StatsSummary] = {
    val view = LakeVersions.tableView(store, table)
    val keys = listTableKeys(store, table, hourRange, Some(view))
    val dvSet = statDirtySet(store, table, view, keys)
    // each partial merges ITS objects (or is the outer None once any
    // sidecar is unreadable — which poisons the whole answer; inner None
    // = an executor task that held no keys). On the driver the one
    // partial walks lazily: the first unreadable sidecar decides the
    // answer, no point paying the remaining N metadata reads. Partials
    // merge exactly under the same poison/all-null/drift lattice
    // ([[mergeSummaries]]); across executors they can't short-circuit
    // each other — the price of the parallel walk.
    val partials = KeyWalk.partials(store, keys) { (st, it) =>
      val ks = it.toVector
      val stats = ks.view.map(k => statRead(st, dvSet, k))
        .takeWhile(_.nonEmpty).toSeq
      if (stats.length < ks.length) None
      else if (ks.isEmpty) Some(None)
      else Some(Some(mergeObjectStats(stats.map(_.get))))
    }
    if (keys.isEmpty || partials.exists(_.isEmpty)) None
    else partials.flatMap(_.get).reduceOption(mergeSummaries)
  }

  /** PER-HOUR metadata rollup — the dashboard primitive the key layout
    * (`YYYY/MM/DD/HH/table/…`) was designed around: for every UTC flush
    * hour holding objects of `table`, that hour's COUNT(*)/null counts/
    * MIN/MAX from sidecars alone, no data object opened. The
    * exact-or-absent contract applies PER HOUR BUCKET: an unreadable
    * sidecar nulls ONLY its own hour (the caller scans just that hour —
    * [[readFrom]] with the one-hour range), every other hour stays
    * exact. Hours ascend in the result. */
  def statsByHour(store: Store, table: String,
                  hourRange: Option[(java.time.Instant, java.time.Instant)] = None)
      : Seq[(java.time.Instant, Option[StatsSummary])] = {
    val view = LakeVersions.tableView(store, table)
    hourWalk(store, listTableKeys(store, table, hourRange, Some(view)),
      view.dvs.keySet)
  }

  /** Ascending `(hour, that hour's keys)` groups of one key listing — the
    * single snapshot every per-hour walk shares. */
  private def groupKeysByHour(keys: Seq[String])
      : Seq[(java.time.Instant, Seq[String])] =
    keys.groupBy(k => LakeKeys.parseKey(k).get._1).toSeq.sortBy(_._1)

  /** The per-hour sidecar walk: each [[KeyWalk]] partial folds its
    * objects into per-hour summaries, lazily within an hour (the first
    * unreadable sidecar decides it, None). Partials of one hour merge
    * through [[mergeSummaries]] — associative, and None absorbs — so the
    * executor walk gives the driver walk's per-hour answers exactly. */
  private def hourWalk(store: Store, keys: Seq[String], dvSet: Set[String])
      : Seq[(java.time.Instant, Option[StatsSummary])] =
    KeyWalk.partials(store, keys) { (st, ks) =>
      groupKeysByHour(ks.toVector).map { case (hour, hks) =>
        val stats = hks.view.map(k => statRead(st, dvSet, k))
          .takeWhile(_.nonEmpty).toSeq
        hour -> (if (stats.length < hks.length) None
                 else Some(mergeObjectStats(stats.map(_.get))))
      }
    }.flatten.groupBy(_._1).toSeq.sortBy(_._1).map { case (hour, ps) =>
      hour -> ps.map(_._2).reduce((a, b) =>
        for (x <- a; y <- b) yield mergeSummaries(x, y))
    }

  /** [[statsByHour]] completed into the dashboard path its contract
    * promises: hours with readable sidecars answer from METADATA alone;
    * hours that lost one (torn/missing sidecar, stat-less writer) are
    * SCANNED — one Spark job over exactly those hours' objects, grouped
    * by the key-derived `_event_hour` — so a single torn sidecar costs
    * one hour's data read, never the lake, and the caller always gets an
    * answer. Returns `(hour, summary, fromMetadata)` ascending.
    *
    * Scanned summaries follow the sidecar lattice so the two sources
    * stay interchangeable: INTEGER/TIME bounds exact; FLOAT bounds
    * demoted to `boundsExact = false` when the hour holds any NaN/±Inf
    * (exactly what [[ZoneMaps.Tracker]] poisons at write time); STRING/
    * BOOLEAN/UUID columns carry exact null counts with no bounds. */
  def statsByHourHybrid(spark: SparkSession, rootUri: String, table: String,
                        hourRange: Option[(java.time.Instant, java.time.Instant)] = None)
      : Seq[(java.time.Instant, StatsSummary, Boolean)] = {
    val store = new HadoopStore(rootUri)
    // ONE key snapshot drives both halves: torn hours scan exactly the
    // keys the metadata walk saw — a re-listing would race retention/
    // compaction between the walks (an hour emptied in between would
    // crash the scan half instead of failing the read loudly). The
    // metadata half is the [[statsByHour]] walk.
    val view = LakeVersions.tableView(store, table)
    val keys = listTableKeys(store, table, hourRange, Some(view))
    val byHour = groupKeysByHour(keys)
    val meta: Map[java.time.Instant, Option[StatsSummary]] =
      hourWalk(store, keys, statDirtySet(store, table, view, keys)).toMap
    val tornKeys = byHour.collect { case (h, ks) if meta(h).isEmpty => ks }.flatten
    val scanned: Map[java.time.Instant, StatsSummary] =
      if (tornKeys.isEmpty) Map.empty
      else scannedHourSummaries(spark, store, table, tornKeys, view.dvs,
        LakeEqDeletes.compile(store, table, view.eqdels))
    byHour.map { case (h, _) =>
      meta(h) match {
        case Some(s) => (h, s, true)
        case None => (h, scanned(h), false)
      }
    }
  }

  /** Exact per-hour summaries from the DATA of `keys`, one job: the
    * scan half of [[statsByHourHybrid]]. */
  private def scannedHourSummaries(spark: SparkSession, store: Store,
      table: String, keys: Seq[String],
      dvs: Map[String, LakeVersions.DvRef] = Map.empty,
      eqs: Seq[LakeEqDeletes.Compiled] = Nil)
      : Map[java.time.Instant, StatsSummary] = {
    val schema = peekSchema(store, keys.head, table)
    def eqOf(k: String) = eqs.filter(_.inScope(k)).map(_.filter)
    val dvPairs = keys.collect {
      case k if dvs.contains(k) || eqs.exists(_.inScope(k)) =>
        (k, dvs.get(k).map(_.key), eqOf(k)) }
    val routedSet = dvPairs.iterator.map(_._1).toSet
    val df = readPaths(spark, store, table, keys, keys.filterNot(routedSet),
      ignoreMissing = false, dvPairs = dvPairs)
    val tracked: Set[ColType] = Set(ColType.CInteger, ColType.CFloat, ColType.CTime)
    val aggs = schema.columns.flatMap { case (n, t) =>
      val nulls = sum(when(col(n).isNull, 1L).otherwise(0L)).as(s"_nulls_$n")
      t match {
        case ColType.CFloat =>
          // NaN/±Inf poison bounds at the tracker; the scan must demote
          // identically or a healed sidecar and a scan would disagree
          Seq(nulls, min(col(n)).as(s"_min_$n"), max(col(n)).as(s"_max_$n"),
            max(when(isnan(col(n)) || col(n) === Double.PositiveInfinity ||
              col(n) === Double.NegativeInfinity, 1L).otherwise(0L)).as(s"_bad_$n"))
        case tt if tracked(tt) =>
          Seq(nulls, min(col(n)).as(s"_min_$n"), max(col(n)).as(s"_max_$n"))
        case _ => Seq(nulls)
      }
    }
    val perHourObjects = keys.groupBy(k => LakeKeys.parseKey(k).get._1)
      .map { case (h, ks) => h -> ks.length.toLong }
    df.groupBy(col("_event_hour"))
      .agg(count(lit(1)).as("_n"), aggs: _*)
      .collect().map { row =>
        val hour = row.getTimestamp(row.fieldIndex("_event_hour")).toInstant
        val records = row.getLong(row.fieldIndex("_n"))
        def dec(n: String, which: String): Option[java.math.BigDecimal] = {
          val i = row.fieldIndex(s"_${which}_$n")
          if (row.isNullAt(i)) None
          else row.get(i) match {
            case l: java.lang.Long => Some(java.math.BigDecimal.valueOf(l))
            case d: java.lang.Double => Some(new java.math.BigDecimal(d.toString))
            // epoch micros truncated to wire millis — the SAME convention
            // as ZoneMaps.Tracker, so scanned and sidecar bounds agree
            case ts: java.sql.Timestamp => Some(java.math.BigDecimal.valueOf(
              ts.getTime * 1000L))
            case other => Some(new java.math.BigDecimal(other.toString))
          }
        }
        val cols = schema.columns.map { case (n, t) =>
          val nulls = row.getLong(row.fieldIndex(s"_nulls_$n"))
          val poisoned = t match {
            case ColType.CFloat => row.getLong(row.fieldIndex(s"_bad_$n")) > 0
            case tt if tracked(tt) => false
            case _ => nulls < records // untracked type with non-null values
          }
          val (mn, mx) =
            if (poisoned || !tracked(t)) (None, None)
            else (dec(n, "min"), dec(n, "max"))
          n -> StatsColumn(mn, mx, nulls, boundsExact = !poisoned)
        }.toMap
        hour -> StatsSummary(perHourObjects(hour), records, cols)
      }.toMap match { case fromRows =>
        // an hour whose objects are all header-only (0 records) yields no
        // groupBy row — it still gets an exact empty summary
        perHourObjects.map { case (h, nObjs) =>
          h -> fromRows.getOrElse(h, StatsSummary(nObjs, 0L,
            schema.columns.map { case (n, _) =>
              n -> StatsColumn(None, None, 0L, boundsExact = true) }.toMap))
        }
      }
  }

  /** Order-independent min/max over BigDecimal bounds.
    * java.math.BigDecimal equality is SCALE-sensitive ("3" ≠ "3.0" under
    * equals, 0 under compareTo) and the executor walk combines its
    * per-task partials in a different grouping than the driver walk's
    * one flat merge — a plain first-operand-wins tie-break would let a
    * lake with mixed-boxed bounds of equal value answer differently per
    * task count, breaking the spec-pinned "executor walk ≡ driver walk
    * bit-identical" requires. Ties collapse to the canonical
    * zero-stripped form, which both operands share, so the result never
    * depends on combine order (render uses toPlainString, so the
    * canonical form of e.g. 600 still renders "600", never "6E+2"). */
  private def minBound(p: java.math.BigDecimal, q: java.math.BigDecimal) = {
    val c = p.compareTo(q); if (c < 0) p else if (c > 0) q else p.stripTrailingZeros()
  }
  private def maxBound(p: java.math.BigDecimal, q: java.math.BigDecimal) = {
    val c = p.compareTo(q); if (c > 0) p else if (c < 0) q else p.stripTrailingZeros()
  }

  /** Flat merge of per-object stats into one summary (the lattice:
    * columns survive only when EVERY object recorded them; bounds are
    * exact unless any object poisoned them — non-null values with no
    * recorded bounds; null counts always sum exactly). */
  private def mergeObjectStats(all: Seq[ZoneMaps.ObjectStats]): StatsSummary = {
    // schema drift: a column absent from any sidecar cannot be summed —
    // only the columns every object recorded survive into the summary
    val shared = all.map(_.cols.keySet).reduce(_ intersect _)
    val cols = shared.map { c =>
      val per = all.map(s => (s.cols(c), s.records))
      val nulls = per.map(_._1.nulls).sum
      val poisoned = per.exists { case (cs, recs) =>
        cs.min.isEmpty && cs.nulls < recs }
      val mins = per.flatMap(_._1.min)
      val maxs = per.flatMap(_._1.max)
      c -> StatsColumn(
        if (poisoned || mins.isEmpty) None else Some(mins.reduce(minBound)),
        if (poisoned || maxs.isEmpty) None else Some(maxs.reduce(maxBound)),
        nulls, boundsExact = !poisoned)
    }.toMap
    StatsSummary(all.length.toLong, all.map(_.records).sum, cols)
  }

  /** Associative pairwise merge of partial summaries — the SAME lattice
    * as [[mergeObjectStats]]: a column survives only if both partials
    * carry it, bounds stay exact only if both sides' were, and an
    * exact-None bound (all-null side) defers to the other side. */
  private def mergeSummaries(a: StatsSummary, b: StatsSummary): StatsSummary = {
    val shared = a.cols.keySet intersect b.cols.keySet
    val cols = shared.map { c =>
      val (x, y) = (a.cols(c), b.cols(c))
      val exact = x.boundsExact && y.boundsExact
      def comb(u: Option[java.math.BigDecimal], v: Option[java.math.BigDecimal],
               takeMin: Boolean) = (u, v) match {
        case (Some(p), Some(q)) =>
          Some(if (takeMin) minBound(p, q) else maxBound(p, q))
        case (p, q) => p.orElse(q)
      }
      c -> StatsColumn(
        if (exact) comb(x.min, y.min, takeMin = true) else None,
        if (exact) comb(x.max, y.max, takeMin = false) else None,
        x.nulls + y.nulls, boundsExact = exact)
    }.toMap
    StatsSummary(a.objects + b.objects, a.records + b.records, cols)
  }

  /** Data-skipping read via [[ZoneMaps]] sidecars: only objects whose
    * recorded [min, max] for `column` can intersect the CLOSED interval
    * [lo, hi] are opened — the Delta/Iceberg manifest-stats idea, natively
    * on the lake format. Objects without a sidecar (stat-less writer,
    * lost sidecar) are conservatively kept, so the result equals an
    * unpruned read + filter for any mix of writers; the caller still
    * applies its own exact predicate (zone maps bound OBJECTS, not rows).
    * Composes with hour-range pruning — the key-layout prune runs first,
    * sidecar consultation only touches surviving objects.
    *
    * Concurrency: this is a POINT-IN-TIME key snapshot (the sidecar
    * consult pins exact objects, so the scan cannot re-expand
    * directories the way [[readFrom]] does) — a compaction that retires
    * a planned object mid-scan fails the read LOUDLY rather than
    * silently dropping its rows (`ignoreMissing = false`). Schedule
    * pruned reads off maintenance windows, or retry on failure.
    *
    * Sidecar-consult cost: one ~100-byte read per candidate object,
    * walked by [[KeyWalk]]: on the driver for interactive small-range
    * reads, on executors for a million-object prune decision. Both
    * branches apply one predicate ([[keepsObject]]), so the kept-set is
    * identical by construction and spec-pinned. */
  def readPruned(spark: SparkSession, rootUri: String, table: String,
                 column: String, lo: java.math.BigDecimal, hi: java.math.BigDecimal,
                 hourRange: Option[(java.time.Instant, java.time.Instant)] = None)
      : (DataFrame, PruneReport) =
    readPrunedMulti(spark, rootUri, table, Seq((column, lo, hi)), hourRange)

  /** [[readPruned]] over a CONJUNCTION of per-column bands: an object is
    * opened only if EVERY band can intersect its recorded bounds. This is
    * where a z-ordered layout ([[graft.operators.Layout.zorder]]) pays
    * off on the lake: range-partitioning by the interleaved key makes
    * objects tight in BOTH dimensions, so a two-column predicate skips
    * multiplicatively where a single-column sort only bounds one side.
    * Each band is conservative independently (missing/poisoned stats
    * keep the object), so the conjunction is too. */
  def readPrunedMulti(spark: SparkSession, rootUri: String, table: String,
                      bands: Seq[(String, java.math.BigDecimal, java.math.BigDecimal)],
                      hourRange: Option[(java.time.Instant, java.time.Instant)] = None)
      : (DataFrame, PruneReport) = {
    require(bands.nonEmpty, "at least one (column, lo, hi) band")
    val store = new HadoopStore(rootUri)
    val keys = listTableKeys(store, table, hourRange)
    require(keys.nonEmpty, s"no lake objects for table $table under $rootUri")
    val kept = prunedKeys(store, keys, bands)
    prunedResult(spark, store, table, keys, kept)
  }

  /** EQUALITY-probe pruned read via [[BloomMaps]] sidecars: only objects
    * whose bloom filter might contain `value` in `column` are opened —
    * the point-lookup path zone maps cannot serve (STRING columns are
    * untracked there; unsorted high-cardinality IDs have useless bands).
    * The probe value is hashed by its WIRE form, derived from the
    * table's declared column type, so it matches exactly the bytes the
    * writer inserted. Objects without a readable bloom (stat-less
    * writer, torn sidecar, untracked column) are conservatively kept;
    * the caller still applies the exact `=== value` predicate (blooms
    * bound OBJECTS and admit false positives, never rows). Same
    * point-in-time snapshot semantics and driver/distributed threshold
    * as [[readPrunedMulti]]. */
  def readPrunedEq(spark: SparkSession, rootUri: String, table: String,
                   column: String, value: Any,
                   hourRange: Option[(java.time.Instant, java.time.Instant)] = None)
      : (DataFrame, PruneReport) =
    readPrunedEqMulti(spark, rootUri, table, Seq((column, value)), hourRange)

  /** [[readPrunedEq]] over a CONJUNCTION of point probes (`c1 = v1 AND
    * c2 = v2 AND …`): an object is opened only if EVERY probe's bloom
    * might contain its value AND every tracked-type band can intersect —
    * ONE bloom-sidecar read and at most one stats-sidecar read per
    * object decide all probes (the [[readPrunedMulti]] symmetry). Each
    * probe is conservative independently, so the conjunction is too. */
  def readPrunedEqMulti(spark: SparkSession, rootUri: String, table: String,
                        probes: Seq[(String, Any)],
                        hourRange: Option[(java.time.Instant, java.time.Instant)] = None)
      : (DataFrame, PruneReport) = {
    require(probes.nonEmpty, "at least one (column, value) probe")
    probes.foreach { case (c, v) => require(v != null && v != "",
      s"equality probe on '$c' is null/empty " +
        "(\"\" round-trips as null in the wire format — probe IS NULL by scanning)") }
    val store = new HadoopStore(rootUri)
    val keys = listTableKeys(store, table, hourRange)
    require(keys.nonEmpty, s"no lake objects for table $table under $rootUri")
    val colTypes = peekSchema(store, keys.head, table).columns.toMap
    val plans = probes.map { case (column, value) =>
      val colType = colTypes.getOrElse(column,
        throw new IllegalArgumentException(s"no column '$column' in table $table"))
      (column, probeWires(colType, value), probeBand(colType, value))
    }
    val kept = KeyWalk.filter(store, keys) { (st, k) =>
      // ONE read per sidecar kind for the whole conjunction
      lazy val blooms = BloomMaps.read(st, k)
      lazy val stats = ZoneMaps.read(st, k)
      plans.forall { case (column, wires, band) =>
        wires.exists(w => BloomMaps.mightContain(blooms, column, w)) &&
          band.forall(b => ZoneMaps.mayContain(stats, column, b, b))
      }
    }
    prunedResult(spark, store, table, keys, kept)
  }

  /** [[readPrunedEq]] over a DISJUNCTION of point probes on ONE column
    * (`column IN (v1, v2, …)`): an object is opened if ANY value's bloom
    * probe hits (with its [v,v] band consistent, per value — exactly the
    * [[readPrunedEq]] test, OR-ed across values). This is the semi-join
    * reduction primitive: the probe set is a join key-list, and every
    * object whose filter provably lacks ALL the keys is skipped without
    * opening it. Still ONE bloom read and at most one stats read per
    * object regardless of probe count — each value's seed-hashes are
    * precomputed once ([[BloomMaps.wireHashes]]) and reused across the
    * whole walk, so a 10k-value probe over a million objects hashes 10k
    * values once, then does pure bit tests (with the OR short-circuiting
    * on the first hit). Conservative per value, hence for the
    * disjunction: false positives may KEEP an extra object, a missing
    * or torn sidecar keeps, a skip is always provably correct. */
  def readPrunedEqAny(spark: SparkSession, rootUri: String, table: String,
                      column: String, values: Seq[Any],
                      hourRange: Option[(java.time.Instant, java.time.Instant)] = None)
      : (DataFrame, PruneReport) =
    readPrunedEqAnyMulti(spark, rootUri, table, Seq((column, values)), hourRange)

  /** [[readPrunedEqAny]] over a CONJUNCTION of per-column disjunctions
    * (`c1 IN (…) AND c2 IN (…)`): an object is opened only if EVERY
    * column's probe set has at least one possible hit — the composite
    * semi-join reduction primitive ([[lakeSemiJoinMulti]]'s prune). The
    * per-column test deliberately ignores cross-column PAIRING (a kept
    * object may hold c1 = a only alongside c2 = x while the probe pairs
    * a with y — blooms summarize columns independently), so the kept set
    * is a conservative superset of any pair-exact decision; the caller's
    * exact predicate rejects such rows. Still ONE bloom read and at most
    * one stats read per object for the whole conjunction, with every
    * value's seed-hashes precomputed once on the driver. */
  def readPrunedEqAnyMulti(spark: SparkSession, rootUri: String, table: String,
                           probes: Seq[(String, Seq[Any])],
                           hourRange: Option[(java.time.Instant, java.time.Instant)] = None)
      : (DataFrame, PruneReport) = {
    val store = new HadoopStore(rootUri)
    val (keys, kept) = prunedEqAnyMultiKeys(store, table, probes, hourRange)
    prunedResult(spark, store, table, keys, kept)
  }

  /** The OBJECT-level half of [[readPrunedEqAnyMulti]] — (all listed
    * keys, conservatively kept keys) without building the DataFrame, so
    * callers that REWRITE rather than read (row-level delete) share the
    * exact same probe decision. */
  private[lake] def prunedEqAnyMultiKeys(store: Store,
      table: String, probes: Seq[(String, Seq[Any])],
      hourRange: Option[(java.time.Instant, java.time.Instant)] = None,
      // EVOLVED table: probe column TYPES resolve against the declared
      // schema (the probed column may not exist in the first object's
      // header at all; sidecar probes on objects lacking it keep
      // conservatively either way)
      declared: Option[TableSchema] = None)
      : (Seq[String], Seq[String]) = {
    require(probes.nonEmpty, "at least one (column, values) probe set")
    probes.foreach { case (c, vs) =>
      require(vs.nonEmpty, s"at least one probe value for column '$c'")
      vs.foreach { v => require(v != null && v != "",
        s"equality probe on '$c' is null/empty " +
          "(\"\" round-trips as null in the wire format — probe IS NULL by scanning)") }
    }
    val keys = listTableKeys(store, table, hourRange)
    // an hour range admitting ZERO objects on a table that EXISTS is a
    // legitimate no-op (a DELETE whose misaligned `_event_hour = t`
    // translated to an inverted range, or a bound outside the data) —
    // the loud failure is reserved for a truly absent table
    if (keys.isEmpty && hourRange.isDefined &&
        firstTableKey(store, table).isDefined)
      return (Seq.empty, Seq.empty)
    require(keys.nonEmpty, s"no lake objects for table $table under ${store.rootUri}")
    val colTypes = declared.getOrElse(
      peekSchema(store, keys.head, table)).columns.toMap
    // hash every plausible wire form of every value ONCE, on the driver —
    // the walk (driver or executor) only does %-and-bit-test per object
    val plans: Seq[(String, Seq[(Array[Array[Int]], Option[java.math.BigDecimal])])] =
      probes.map { case (column, values) =>
        val colType = colTypes.getOrElse(column,
          throw new IllegalArgumentException(s"no column '$column' in table $table"))
        column -> values.map { v =>
          (probeWires(colType, v).toArray.map(BloomMaps.wireHashes),
            probeBand(colType, v))
        }
      }
    val kept = KeyWalk.filter(store, keys) { (st, k) =>
      lazy val blooms = BloomMaps.read(st, k)
      lazy val stats = ZoneMaps.read(st, k)
      plans.forall { case (column, vals) =>
        vals.exists { case (hashes, band) =>
          hashes.exists(h => BloomMaps.mightContainHashed(blooms, column, h)) &&
            band.forall(b => ZoneMaps.mayContain(stats, column, b, b))
        }
      }
    }
    (keys, kept)
  }

  /** SEMI-JOIN a lake table to a (filtered) dimension with the join
    * pushed down to the OBJECT level: collect the dimension's distinct
    * join keys (bounded — see the guard), skip every lake object whose
    * bloom provably lacks all of them ([[readPrunedEqAny]]), then apply
    * the exact semi-join to the surviving objects' rows. This is runtime
    * filtering / dynamic file pruning at the lake layer: "events for
    * these 2k customers" touches the objects that can hold those
    * customers, not 100 TB of lake.
    *
    * TWO bounds guard the TWO different costs, independently:
    *
    *  - `maxDimKeys` bounds the PROBE — the driver-side distinct-key
    *    collect and the per-value hash precompute, both linear and cheap
    *    (a 100k-key probe is tens of MB of driver state and pure bit
    *    tests per object). It is ARMED, not assumed: more distinct
    *    non-null keys raises IllegalStateException naming the bound and
    *    the remedies, never silently degrading to a full scan (the
    *    [[graft.operators.Guards]] contract).
    *  - `broadcastKeysUpTo` bounds the JOIN STRATEGY — the real
    *    broadcast hazard. At or below it, the exact semi-join broadcasts
    *    a key-list relation PROVABLY that small (the bounded-broadcast
    *    pattern, not a size-blind hint on a growing table). Above it the
    *    object prune still runs, but the exact semi-join goes back to
    *    Catalyst UN-hinted against the dimension itself — shuffle (or
    *    AQE's own broadcast decision if the bytes turn out small), and
    *    the oversized key list is never serialized into the plan as a
    *    local relation.
    *
    * NULL dim keys match nothing under SQL equality and are dropped;
    * empty-string keys are dropped too, which is exact for the same
    * reason — "" round-trips through the wire format as NULL, so no
    * lake ROW can equal "" either. Bloom false positives cost an extra
    * opened object whose rows the exact join then rejects — never a
    * wrong row, and never a wrong skip. */
  def lakeSemiJoin(spark: SparkSession, rootUri: String, table: String,
                   column: String, dim: DataFrame, dimColumn: String,
                   maxDimKeys: Int = 250000,
                   broadcastKeysUpTo: Int = 10000,
                   hourRange: Option[(java.time.Instant, java.time.Instant)] = None)
      : (DataFrame, PruneReport) =
    lakeSemiJoinMulti(spark, rootUri, table, Seq((column, dimColumn)), dim,
      maxDimKeys, broadcastKeysUpTo, hourRange)

  /** COMPOSITE-KEY [[lakeSemiJoin]]: the exact semi-join matches on a
    * conjunction of equal column pairs (`lake.c1 = dim.d1 AND lake.c2 =
    * dim.d2 AND …`) — the real star-schema shape, where events key on
    * (tenant_id, user_id), not one column. The object prune is the
    * cheapest SOUND composite decision: per-column disjunction probes
    * AND-ed ([[readPrunedEqAnyMulti]]) — conservative because blooms
    * summarize columns independently (an object holding both key VALUES
    * but never the PAIR is kept and its rows rejected by the exact
    * join), never a wrong skip. Bounds, null/"" key-row handling, and
    * the broadcast-vs-shuffle strategy flip are [[lakeSemiJoin]]'s,
    * applied to distinct composite KEY ROWS (a dim row with any null
    * key column matches nothing under the conjunction and is
    * dropped). */
  def lakeSemiJoinMulti(spark: SparkSession, rootUri: String, table: String,
                        joinCols: Seq[(String, String)], dim: DataFrame,
                        maxDimKeys: Int = 250000,
                        broadcastKeysUpTo: Int = 10000,
                        hourRange: Option[(java.time.Instant, java.time.Instant)] = None)
      : (DataFrame, PruneReport) = {
    import org.apache.spark.sql.functions.{broadcast, col}
    require(joinCols.nonEmpty, "at least one (lakeColumn, dimColumn) pair")
    require(joinCols.map(_._1).distinct.size == joinCols.size &&
      joinCols.map(_._2).distinct.size == joinCols.size,
      s"join columns must be distinct on both sides: $joinCols")
    require(maxDimKeys > 0, s"maxDimKeys must be positive: $maxDimKeys")
    require(broadcastKeysUpTo > 0,
      s"broadcastKeysUpTo must be positive: $broadcastKeysUpTo")
    val fields = joinCols.map { case (_, d) => dim.schema(d) } // loud on bad names
    // "" is only a representable key for string-typed dims (on numeric
    // columns the comparison itself would be a bad cast); a null in ANY
    // key column makes the whole conjunction unmatched — drop the row
    def nonEmptyPred(c: org.apache.spark.sql.Column,
                     dt: org.apache.spark.sql.types.DataType) =
      if (dt == org.apache.spark.sql.types.StringType) c.isNotNull && c =!= ""
      else c.isNotNull
    val keyFilter = joinCols.zip(fields)
      .map { case ((_, d), f) => nonEmptyPred(col(d), f.dataType) }
      .reduce(_ && _)
    val keyRows = dim.select(joinCols.map { case (_, d) => col(d) }: _*)
      .where(keyFilter)
      .distinct().limit(maxDimKeys + 1).collect()
    if (keyRows.length > maxDimKeys)
      throw new IllegalStateException(
        s"lakeSemiJoin: dimension ${joinCols.map(_._2).mkString("(", ", ", ")")} " +
          s"has more than $maxDimKeys distinct join keys — the driver-side " +
          s"key collect and per-object probe are only a win for a bounded " +
          s"key list. Raise maxDimKeys deliberately, pre-filter the " +
          s"dimension, or use a full lake read with a shuffle join instead.")
    val store = new HadoopStore(rootUri)
    if (keyRows.isEmpty) {
      // an empty key set semi-joins to nothing; keep the report honest
      val keys = listTableKeys(store, table, hourRange)
      require(keys.nonEmpty, s"no lake objects for table $table under $rootUri")
      return prunedResult(spark, store, table, keys, Nil)
    }
    // per-column DISTINCT value sets drive the conjunction-of-disjunctions
    // probe; pairing is the exact join's job (the scaladoc's soundness note)
    val probes = joinCols.zipWithIndex.map { case ((lakeCol, _), i) =>
      lakeCol -> keyRows.map(_.get(i)).distinct.toSeq
    }
    val (pruned, report) = readPrunedEqAnyMulti(spark, rootUri, table, probes,
      hourRange)
    val semiNames = joinCols.indices.map(i => s"__graft_semi_key$i")
    def conj(probe: DataFrame) = joinCols.zipWithIndex
      .map { case ((lakeCol, _), i) => pruned(lakeCol) === probe(semiNames(i)) }
      .reduce(_ && _)
    val out = if (keyRows.length <= broadcastKeysUpTo) {
      // the key list is PROVEN broadcast-sized (we counted it) — a local
      // relation with an explicit broadcast is the cheapest exact side
      val probe = spark.createDataFrame(
        java.util.Arrays.asList(keyRows.map(r =>
          org.apache.spark.sql.Row(joinCols.indices.map(r.get): _*)): _*),
        org.apache.spark.sql.types.StructType(joinCols.indices.map(i =>
          org.apache.spark.sql.types.StructField(semiNames(i), fields(i).dataType))))
      pruned.join(broadcast(probe), conj(probe), "left_semi")
    } else {
      // too many keys to force a broadcast: join the DIMENSION itself
      // (distinct, null/""-dropped — the same key set), un-hinted, so
      // Catalyst/AQE pick the strategy and the key list never bloats the
      // plan as a driver-serialized local relation
      val probe = dim.select(joinCols.zipWithIndex.map { case ((_, d), i) =>
          col(d).as(semiNames(i)) }: _*)
        .where(joinCols.indices.map(i =>
          nonEmptyPred(col(semiNames(i)), fields(i).dataType)).reduce(_ && _))
        .distinct()
      pruned.join(probe, conj(probe), "left_semi")
    }
    (out, report)
  }

  /** Every plausible WIRE form of a value numerically equal to `value`.
    * The stored form depends on the PRODUCER's runtime box, not the
    * declared type (TypedCsv writes values as-is): a CInteger column fed
    * Longs stores "600", a CFloat column fed Longs stores "3" while fed
    * Doubles it stores "3.0". A probe boxed differently from the writer
    * (600.0 from an aggregation row, Integer 3 against a double column)
    * must still FIND the value — wrongly skipping breaks the bloom
    * contract — so the probe hashes every form and keeps on any hit
    * (more forms = more conservative, never less). */
  private[lake] def probeWires(colType: ColType, value: Any): Set[String] = {
    val raw = TypedCsv.formatValue(value, colType)
    val extra: Set[String] = (colType, value) match {
      case (ColType.CInteger | ColType.CFloat, n: java.lang.Number) =>
        val d = n.doubleValue()
        val whole: Set[String] =
          // EVERY whole double gets the integral form, not just |d| ≤ 2^53:
          // a whole double in (2^53, 2^63) is still an exact long (whole
          // doubles there are integers by construction), so Double 1.0E16
          // must hash "10000000000000000" or it wrongly SKIPS an object a
          // Long-boxed producer wrote. Beyond Long range longValue()
          // saturates — a saturated extra wire form can only cause a
          // harmless false KEEP (no Long-boxed producer can store a value
          // outside Long range), never a skip.
          if (!d.isNaN && !d.isInfinite && d == math.rint(d))
            Set(n.longValue().toString)
          else Set.empty
        val dbl: Set[String] =
          if (colType == ColType.CFloat) Set(java.lang.Double.toString(d))
          else Set.empty
        whole ++ dbl
      case _ => Set.empty
    }
    extra + raw
  }

  /** A point probe on a ZoneMaps-TRACKED type also band-checks [v, v]
    * against the stats sidecar — blooms and bands compose (either may
    * be absent; both are conservative), so one entry point serves
    * string lookups (bloom-only), integer/time lookups (band, plus
    * bloom if indexed), and mixed lakes. The band value mirrors the
    * Tracker's wire-precision conventions (millis-truncated time); a
    * probe NOT exactly representable in the declared type (600.5 on an
    * integer column) gets no band — it can only match a mistyped stored
    * value, whose object the Tracker poisoned to conservative keep. */
  private[lake] def probeBand(colType: ColType, value: Any): Option[java.math.BigDecimal] =
    (colType, value) match {
      case (ColType.CInteger, n: java.lang.Number)
          if n.doubleValue() == math.rint(n.doubleValue()) =>
        Some(java.math.BigDecimal.valueOf(n.longValue()))
      case (ColType.CTime, ts: java.sql.Timestamp) =>
        Some(java.math.BigDecimal.valueOf(ts.getTime * 1000L))
      case (ColType.CTime, i: java.time.Instant) =>
        // same millis-truncation as the Tracker's wire convention
        Some(java.math.BigDecimal.valueOf(i.toEpochMilli * 1000L))
      case (ColType.CFloat, n: java.lang.Number)
          if !n.doubleValue().isNaN && !n.doubleValue().isInfinite =>
        Some(new java.math.BigDecimal(n.toString))
      case _ => None
    }

  private def prunedResult(spark: SparkSession, store: Store, table: String,
                           keys: Seq[String], kept: Seq[String])
      : (DataFrame, PruneReport) = {
    val report = PruneReport(keys.length, kept.length)
    if (kept.isEmpty) {
      // no object can match: an empty frame with the table's real schema
      // (peeked from ANY table object when the hour-ranged listing itself
      // was empty — the no-op-range case above guarantees one exists)
      val peekKey = keys.headOption.getOrElse(firstTableKey(store, table).get)
      val schema = peekSchema(store, peekKey, table)
      val empty = spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema.structType)
        .withColumn("_event_hour",
          org.apache.spark.sql.functions.lit(null).cast("timestamp"))
      (empty, report)
    } else {
      // merge-on-read: vectored/eq-scoped kept objects leave the CSV
      // path (one head-record read decides; a never-MOR table resolves
      // empty)
      val dvMap = LakeVersions.currentDvs(store, table)
      val eqs = LakeEqDeletes.compile(store, table,
        LakeVersions.currentEqdels(store, table))
      def eqOf(k: String) = eqs.filter(_.inScope(k)).map(_.filter)
      val dvPairs = kept.collect {
        case k if dvMap.contains(k) || eqs.exists(_.inScope(k)) =>
          (k, dvMap.get(k).map(_.key), eqOf(k)) }
      val routedSet = dvPairs.iterator.map(_._1).toSet
      (readPaths(spark, store, table, kept, kept.filterNot(routedSet),
        ignoreMissing = false, dvPairs = dvPairs), report)
    }
  }

  /** The single consult predicate BOTH walks share: conservative keep on
    * missing/torn/poisoned stats, conjunction across bands, one sidecar
    * read per object regardless of band count. */
  private def keepsObject(stats: Option[ZoneMaps.ObjectStats],
      bands: Seq[(String, java.math.BigDecimal, java.math.BigDecimal)]): Boolean =
    bands.forall { case (c, lo, hi) => ZoneMaps.mayContain(stats, c, lo, hi) }

  /** Kept-key list for a pruned read, walked by [[KeyWalk]]. Key order
    * is preserved on either branch, and both apply [[keepsObject]] to the
    * same per-object sidecar reads, so kept-sets are identical —
    * spec-pinned in ZoneMapsSpec including torn-sidecar and stat-less
    * objects. */
  private[lake] def prunedKeys(store: Store, keys: Seq[String],
      bands: Seq[(String, java.math.BigDecimal, java.math.BigDecimal)])
      : Seq[String] =
    KeyWalk.filter(store, keys) { (st, k) =>
      keepsObject(ZoneMaps.read(st, k), bands)
    }

  private def readPaths(spark: SparkSession, store: Store, table: String,
                        keys: Seq[String], relPaths: Seq[String],
                        ignoreMissing: Boolean,
                        // (object key, vector key, eq filters) triples
                        // routed through the position/equality-aware
                        // reader instead of the CSV fast path; relPaths
                        // must already EXCLUDE them
                        dvPairs: Seq[(String, Option[String], Seq[LakeEqDeletes.Filter])] = Nil)
      : DataFrame = {
    val rootUri = store.rootUri
    require(keys.nonEmpty, s"no lake objects for table $table under $rootUri")
    val schema = peekSchema(store, keys.head, table)
    val paths = relPaths.map(d => s"${rootUri.stripSuffix("/")}/$d")

    def csvPart = spark.read
      .schema(schema.structType)
      .options(CodecOptions)
      .option("ignoreMissingFiles", ignoreMissing.toString)
      .csv(paths: _*)
      .withColumn("_event_hour", eventHourCol)

    if (dvPairs.isEmpty) csvPart
    else {
      val dvPart = dvRead(spark, rootUri, table, schema, dvPairs, ignoreMissing)
      if (relPaths.isEmpty) dvPart else csvPart.unionByName(dvPart)
    }
  }

  /** MERGE-ON-READ functional read: the given objects stream through the
    * connector's own codec ([[LakeObjectReader]]) on executors with
    * their committed delete vectors applied — position-exact, and
    * row-identical to the CSV fast path for the surviving rows (the two
    * codecs are spec-pinned identical). A referenced-but-unreadable
    * vector fails LOUDLY in-task (the [[LakeDvs.read]] contract). */
  private def dvRead(spark: SparkSession, rootUri: String, table: String,
                     schema: TableSchema,
                     dvPairs: Seq[(String, Option[String], Seq[LakeEqDeletes.Filter])],
                     ignoreMissing: Boolean): DataFrame = {
    val struct = org.apache.spark.sql.types.StructType(
      schema.structType.fields :+
        org.apache.spark.sql.types.StructField("_event_hour",
          org.apache.spark.sql.types.TimestampType, nullable = true))
    val rdd = spark.sparkContext
      .parallelize(dvPairs, math.max(1, math.min(dvPairs.size, 256)))
      .flatMap { case (k, dvKey, eqs) =>
        if (!ignoreMissing)
          require(new HadoopStore(rootUri).exists(k),
            s"lake object $k vanished under a snapshot read (vectored) — " +
              "a maintenance job raced this statement")
        val reader = new LakeObjectReader(rootUri, schema, struct,
          LakeInputPartition(k, LakeKeys.parseKey(k).get._1.toEpochMilli,
            dvKey), eqs = eqs)
        new Iterator[org.apache.spark.sql.catalyst.InternalRow] {
          private var ready = false
          private var done = false
          override def hasNext: Boolean = {
            if (!ready && !done) {
              ready = reader.next()
              if (!ready) { done = true; reader.close() }
            }
            ready
          }
          override def next(): org.apache.spark.sql.catalyst.InternalRow = {
            if (!hasNext) throw new NoSuchElementException
            ready = false
            reader.get() // fresh GenericInternalRow per record — no reuse
          }
        }
      }
    org.apache.spark.sql.graft.exprs.dataFrameOfInternalRows(spark, rdd, struct)
  }
}
