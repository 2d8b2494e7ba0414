package graft.lake

import graft.types.{ColType, TableSchema}

import java.math.BigDecimal
import java.nio.charset.StandardCharsets

/** Object-level zone maps for the typed-CSV lake: per-object min/max/null
  * statistics over every orderable column, written as tiny sidecar objects
  * under a root-level `_zmaps/` prefix that mirrors the data key. This is
  * the data-skipping layer parquet gets from row-group stats and
  * Delta/Iceberg get from file manifests, landed natively for the lake
  * format (the sandbox cannot fetch those table-format packages —
  * README "Known gaps" #1): a pruned read consults the sidecars and never
  * opens objects whose value range cannot intersect the predicate.
  *
  * Layout: `_zmaps/YYYY/MM/DD/HH/table/uuid.csv.gz.zmap`. The `_zmaps/`
  * root is non-numeric, so [[LakeReader.walkHourPrefixes]] never descends
  * into it — sidecars are invisible to normal data reads by construction,
  * exactly like `_staging/`. A missing or unreadable sidecar degrades to
  * "keep the object" (pruning is an optimization, never a correctness
  * gate), so zone maps can be adopted lake-by-lake and mixed with
  * stat-less writers.
  *
  * Writer coverage: the batch writer ([[LakeWriter.write]]), the
  * compactor ([[LakeMaintenance.compact]]) AND the streaming sink
  * ([[graft.streaming.LakeSink]], `zoneMaps = true`) land sidecars.
  * Every writer stages each sidecar beside its data object, and
  * [[StagedPublish]] moves, removes and sweeps them together, so the
  * replay-idempotent epoch publish (leftover deletes, staging cleanup)
  * carries sidecars for free — a streamed-then-pruned read skips objects
  * without waiting for a compaction pass. With the sink's zone maps OFF,
  * a replayed epoch deletes any sidecar a previous attempt left under a
  * rewritten key (a stale sidecar under fresh bytes is the one
  * configuration that could prune wrongly).
  *
  * Orderable columns: INTEGER (long order), FLOAT (IEEE order on finite
  * values; NaN observations poison the column's stats to "unknown" rather
  * than record an unordered bound), TIME (epoch-micros order). STRING
  * bounds are deliberately not tracked: CSV re-parse fidelity is exact for
  * the numeric types, while string collation across engines is a
  * correctness trap for no common predicate win. All bounds serialize as
  * decimal STRINGS — exact for longs beyond 2^53 where a JSON double
  * would silently round.
  */
object ZoneMaps {

  val Prefix = "_zmaps/"

  /** Highest sidecar format version this READER understands. The strict
    * round-trip parse pins each version's shape byte-exactly, so without
    * a version signal any future additive format change would make every
    * existing reader treat all new sidecars as torn — silently disabling
    * pruning and collapsing statsSummary to None lake-wide (safe, but a
    * performance cliff with no signal).
    *
    * ROLLOUT IS READER-FIRST: writers still emit the versionless legacy
    * shape (emitting `"v":1` today would itself be that exact unsignaled
    * break for every pre-version reader in a mixed-version fleet), while
    * every reader from this release on accepts BOTH shapes and surfaces a
    * `"v":N > Version` sidecar on stderr (once per version per JVM)
    * instead of silently degrading. Only after pre-version readers are
    * retired may a format change start writing a version field. */
  val Version = 1

  private val warnedVersions =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  def statsKey(objectKey: String): String = Prefix + objectKey + ".zmap"

  /** Closed bounds over the object's non-null values; None = no non-null
    * value seen (or the column's type is not tracked / stats poisoned). */
  final case class ColStats(min: Option[BigDecimal], max: Option[BigDecimal], nulls: Long)
  final case class ObjectStats(records: Long, cols: Map[String, ColStats])

  /** Streaming accumulator the writer drives row by row — O(1) per value,
    * no buffering. Serializable with an associative [[merge]] so
    * [[buildIndex]] can fold per-object partials executor-side. */
  final class Tracker(schema: TableSchema) extends Serializable {
    private val names = schema.columnNames
    private val types = schema.colTypes
    private val n = names.length
    private val mins = new Array[BigDecimal](n)
    private val maxs = new Array[BigDecimal](n)
    private val nulls = new Array[Long](n)
    private val poisoned = new Array[Boolean](n)
    private var records = 0L

    /** Numeric view of one typed value; None = untracked type or NaN.
      * Matches on [[java.lang.Number]] and WIDENS to the declared type —
      * an exact-boxed-class match would let a CInteger value arriving as
      * Integer (or a CFloat as Float — representation drift from an
      * upstream producer) fall through and permanently poison the
      * column's bounds, silently disabling pruning with no signal. */
    private def ordView(t: ColType, v: Any): Option[BigDecimal] = (t, v) match {
      // ONLY lossless integral boxes widen into CInteger bounds: the
      // writer serializes mistyped values AS-IS (TypedCsv never coerces),
      // so a drifted Double 3.7 truncated to bound 3 would let a pruned
      // read skip the object that actually contains "3.7" — and
      // Double.NaN.longValue()==0 would track a fake bound instead of
      // poisoning. Fractional boxes fall to the conservative None.
      case (ColType.CInteger, x: java.lang.Byte) => Some(BigDecimal.valueOf(x.longValue()))
      case (ColType.CInteger, x: java.lang.Short) => Some(BigDecimal.valueOf(x.longValue()))
      case (ColType.CInteger, x: java.lang.Integer) => Some(BigDecimal.valueOf(x.longValue()))
      case (ColType.CInteger, x: java.lang.Long) => Some(BigDecimal.valueOf(x.longValue()))
      case (ColType.CFloat, x: java.lang.Number) =>
        // NaN AND ±Infinity poison: TypedCsv serializes both as legal
        // lake values, and BigDecimal can represent neither — a throw
        // here would fail the whole write attempt, permanently, for a
        // stats OPTIMIZATION. toString of the ORIGINAL box keeps a
        // Float's shortest decimal form instead of a float→double
        // artifact (0.1f would otherwise become 0.10000000149...).
        val d = x.doubleValue()
        if (d.isNaN || d.isInfinite) None
        else Some(new BigDecimal(x.toString))
      case (ColType.CTime, ts: java.sql.Timestamp) =>
        // epoch MICROS, truncated to the MILLIS the wire format keeps
        // (TypedCsv serializes `.SSS`): bounds must describe the value as
        // READ BACK, or a sub-millisecond input (micros-precision parquet
        // source) records a sidecar min ABOVE the stored value and a
        // pruned band between them wrongly skips the object.
        //
        // HEALING NOTE: this truncation is write-side — sidecars written
        // BEFORE it (by earlier releases, from sub-millisecond CTime
        // inputs) still carry micros-precision bounds that can sit above
        // the stored millis value, and their bytes are indistinguishable
        // from healthy ones. Such lakes must rebuild their sidecars:
        // [[buildIndex]] (metadata-only rewrite, no data movement) or a
        // [[LakeMaintenance.compact]] pass (which rewrites data AND
        // sidecars) both heal, because each re-derives bounds from the
        // millis-precision READ-BACK values.
        Some(BigDecimal.valueOf(ts.getTime * 1000L))
      case _ => None
    }

    def observe(vals: Array[Any]): Unit = {
      records += 1
      var i = 0
      while (i < n) {
        // a null AND an empty string serialize to the same empty field
        // (TypedCsv.formatValue), which the CSV read maps back to NULL —
        // the sidecar must count what the lake ROUND-TRIPS, or metadata
        // null counts disagree with any scan of the same objects
        if (vals(i) == null || vals(i) == "") nulls(i) += 1
        else types(i) match {
          case ColType.CInteger | ColType.CFloat | ColType.CTime =>
            ordView(types(i), vals(i)) match {
              case Some(d) =>
                if (mins(i) == null || d.compareTo(mins(i)) < 0) mins(i) = d
                if (maxs(i) == null || d.compareTo(maxs(i)) > 0) maxs(i) = d
              case None => // NaN etc.: bounds no longer trustworthy
                poisoned(i) = true; mins(i) = null; maxs(i) = null
            }
          case _ => ()
        }
        i += 1
      }
    }

    /** Fold another partial over the SAME schema into this one —
      * associative and commutative (min/max/sum/poison-OR per column), so
      * [[buildIndex]]'s aggregateByKey combine order cannot change the
      * result: read-back boxes are normalized by the typed CSV read
      * (every CFloat value is a Double, every CTime a millis Timestamp),
      * so equal bounds are byte-identical BigDecimals, never the
      * mixed-scale ties the write-time path has to canonicalize. */
    def merge(o: Tracker): Tracker = {
      records += o.records
      var i = 0
      while (i < n) {
        nulls(i) += o.nulls(i)
        if (o.poisoned(i)) { poisoned(i) = true; mins(i) = null; maxs(i) = null }
        else if (!poisoned(i)) {
          if (o.mins(i) != null &&
              (mins(i) == null || o.mins(i).compareTo(mins(i)) < 0)) mins(i) = o.mins(i)
          if (o.maxs(i) != null &&
              (maxs(i) == null || o.maxs(i).compareTo(maxs(i)) > 0)) maxs(i) = o.maxs(i)
        }
        i += 1
      }
      this
    }

    def result(): ObjectStats = ObjectStats(records,
      names.indices.map { i =>
        val tracked = !poisoned(i) && (types(i) match {
          case ColType.CInteger | ColType.CFloat | ColType.CTime => true
          case _ => false
        })
        names(i) -> ColStats(
          if (tracked) Option(mins(i)) else None,
          if (tracked) Option(maxs(i)) else None,
          nulls(i))
      }.toMap)
  }

  def render(s: ObjectStats): String = s"{${renderBody(s)}}"

  /** The versioned shape a FUTURE format bump will emit once pre-version
    * readers are retired; today's readers already accept it (the
    * reader-first half of the rollout, spec-pinned). */
  private[lake] def renderVersioned(s: ObjectStats): String =
    s"""{"v":$Version,${renderBody(s)}}"""

  private def renderBody(s: ObjectStats): String = {
    val cols = s.cols.toSeq.sortBy(_._1).map { case (name, cs) =>
      val mn = cs.min.map(v => "\"" + v.toPlainString + "\"").getOrElse("null")
      val mx = cs.max.map(v => "\"" + v.toPlainString + "\"").getOrElse("null")
      s"${graft.Json.str(name)}:{" + s""""min":$mn,"max":$mx,"nulls":${cs.nulls}}"""
    }.mkString(",")
    s""""records":${s.records},"cols":{$cols}"""
  }

  /** Minimal parser for [[render]]'s own fixed shape (no general JSON — the
    * sidecar is machine-written; anything unparseable reads as None and the
    * object is conservatively kept).
    *
    * STRICT: the parsed result must re-render to the exact input bytes
    * (render is canonical, so the round-trip is a full-shape validation).
    * The regexes alone would accept a TORN sidecar — a hard-killed writer
    * or a racing copy+delete rename can leave a prefix like
    * `{"records":12` of `{"records":12345,...}` — which pruning would
    * survive (conservative keep) but [[LakeReader.statsSummary]] would
    * turn into a silently wrong exact COUNT. Torn reads as None: pruning
    * keeps the object, the metadata aggregate falls back to a scan. */
  def parse(text: String): Option[ObjectStats] = try {
    // the version field is a leading scalar ("v":1,) — a COLUMN named "v"
    // renders as "v":{... and cannot match \d+, so there is no collision,
    // and the round-trip check below re-validates the whole shape anyway
    val ver = """\{"v":(\d+),""".r.findPrefixMatchOf(text).map(_.group(1).toInt)
    if (ver.exists(_ > Version)) {
      // once per version per JVM: this runs in the per-object walk the
      // distributed arrangements fan out at million-object scale — a line
      // per sidecar would drown the logs the signal exists to reach
      if (warnedVersions.add(ver.get))
        System.err.println(s"[graft.ZoneMaps] sidecar format v${ver.get} is newer " +
          s"than this reader's v$Version — treating as unreadable " +
          "(pruning keeps the object; metadata aggregates fall back to a scan)")
      None
    } else {
      val rec = """"records":(\d+)""".r.findFirstMatchIn(text).map(_.group(1).toLong)
      val col = ("\"([^\"]+)\":\\{\"min\":(\"[^\"]*\"|null)," +
        "\"max\":(\"[^\"]*\"|null),\"nulls\":(\\d+)\\}").r
      val cols = col.findAllMatchIn(text).map { m =>
        def dec(s: String) =
          if (s == "null") None else Some(new BigDecimal(s.stripPrefix("\"").stripSuffix("\"")))
        m.group(1) -> ColStats(dec(m.group(2)), dec(m.group(3)), m.group(4).toLong)
      }.toMap
      // strict: must re-render to the exact input bytes under the DECLARED
      // version's canonical form (versioned or legacy) — a torn prefix of
      // either shape reads as None
      rec.map(ObjectStats(_, cols)).filter { s =>
        (if (ver.isDefined) renderVersioned(s) else render(s)) == text
      }
    }
  } catch { case _: Exception => None }

  def write(store: Store, objectKey: String, stats: ObjectStats): Unit = {
    val out = store.create(statsKey(objectKey))
    try out.write(render(stats).getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  def read(store: Store, objectKey: String): Option[ObjectStats] = try {
    val in = store.open(statsKey(objectKey))
    try parse(new String(in.readAllBytes(), StandardCharsets.UTF_8)) finally in.close()
  } catch { case _: Exception => None }

  /** The keys among `keys` whose sidecar (under `sidecarKeyOf`) does not
    * EXIST — the incremental-build filter both `buildIndex`es share. One
    * listing per hour/table prefix (the data listing's own granularity),
    * never a per-object existence RPC and never a whole-`_zmaps/` walk.
    * Existence only: a PRESENT-but-torn sidecar is not "missing" (telling
    * the two apart costs the full read the incremental mode exists to
    * avoid) — healing suspected-torn sidecars is a full rebuild's job. */
  private[lake] def missingSidecarKeys(store: Store, keys: Seq[String],
                                       sidecarKeyOf: String => String): Seq[String] = {
    // listTableKeys always yields hour/table-prefixed keys today, but the
    // helper is shared — a root-level key (no '/') must not throw an
    // opaque StringIndexOutOfBounds from substring; it lists the root
    val prefixes = keys.map { k =>
      val i = k.lastIndexOf('/')
      if (i < 0) "" else k.substring(0, i)
    }.distinct
    val existing = prefixes.flatMap(pfx => store.list(Prefix + pfx)).toSet
    keys.filterNot(k => existing.contains(sidecarKeyOf(k)))
  }

  /** REBUILD stats sidecars over an EXISTING lake — "ANALYZE TABLE"
    * without rewriting a byte of data: one distributed pass reads every
    * object's rows, folds a per-object [[Tracker]] executor-side
    * (`aggregateByKey` whose shuffle payload is the trackers — a few
    * bounds per column per object, never the rows), and writes each
    * sidecar from the task that owns it. Returns the number of objects
    * indexed (= sidecars written; header-only 0-record objects are
    * seeded so they land the same always-empty stats a write-time
    * tracker emits). The [[BloomMaps.buildIndex]] arrangement, for the
    * stats kind.
    *
    * Use it to (a) adopt zone maps on a lake written by stat-less
    * writers, and (b) HEAL sidecars whose recorded bounds predate a
    * wire-precision fix — rebuilt bounds derive from the READ-BACK
    * values, so they describe exactly what any scan of the same objects
    * returns (stale micros-precision CTime bounds, pre-fix empty-string
    * null counts). A value the typed read cannot parse (representation
    * drift: "3.7" under an INTEGER header) reads back as null and is
    * counted as one — round-trip-consistent with every scan, where the
    * write-time tracker conservatively poisons the column instead; both
    * sidecars are correct for pruning, they bound the same readable
    * values.
    *
    * Concurrency: same contract as [[BloomMaps.buildIndex]] — index
    * settled hours; a build racing compaction/retention fails loudly on
    * a retired key rather than writing a sidecar for a ghost.
    *
    * `onlyMissing = true` is the INCREMENTAL mode for append-heavy lakes
    * (yesterday's objects already indexed): only objects with no
    * existing sidecar are read and indexed, decided by per-hour prefix
    * listings ([[missingSidecarKeys]]). It never re-reads indexed
    * objects, so it also never HEALS a present-but-stale/torn sidecar —
    * healing is the full build's job. */
  def buildIndex(spark: org.apache.spark.sql.SparkSession, rootUri: String,
                 table: String,
                 hourRange: Option[(java.time.Instant, java.time.Instant)] = None,
                 onlyMissing: Boolean = false): Int = {
    val store = new HadoopStore(rootUri)
    val allKeys = LakeReader.listTableKeys(store, table, hourRange)
    val keys = if (onlyMissing) missingSidecarKeys(store, allKeys, statsKey)
               else allKeys
    buildForKeys(spark, rootUri, table, keys)
  }

  /** The build pass over an EXPLICIT key snapshot — [[buildIndex]] minus
    * the listing, so [[LakeMaintenance.ensureIndexes]] can drive both
    * sidecar kinds off ONE listing. */
  private[lake] def buildForKeys(spark: org.apache.spark.sql.SparkSession,
                                 rootUri: String, table: String,
                                 keys: Seq[String]): Int = {
    import org.apache.spark.sql.functions.{col, input_file_name}
    val store = new HadoopStore(rootUri)
    if (keys.isEmpty) 0
    else {
      val schema = LakeReader.peekSchema(store, keys.head, table)
      val byName = keys.map(kk => kk.split('/').last -> kk).toMap
      require(byName.size == keys.size, "object filenames must be unique")
      val names = schema.columnNames
      val nCols = names.length
      val schemaLocal = schema
      // RAW read (dvs = empty): sidecars describe the object's PHYSICAL
      // rows — vectored positions included — so live-row arithmetic
      // stays `records − vector count` everywhere (and input_file_name,
      // which the vector-aware RDD path cannot populate, keeps working)
      val rows = LakeReader.readKeys(spark, store, table, keys,
          dvs = Some(Map.empty))
        .select(input_file_name() +: names.map(col): _*)
        .rdd
      // header-only objects yield no rows — seed every listed key so each
      // gets a sidecar (the BloomMaps.buildIndex zero-seed, same reason)
      val seeds = spark.sparkContext
        .parallelize(keys.map(_.split('/').last), KeyWalk.tasks(keys.length))
        .map(name => name -> (null: org.apache.spark.sql.Row))
      rows
        .map(r => r.getString(0).split('/').last -> r)
        .union(seeds)
        .aggregateByKey(new Tracker(schemaLocal))(
          { (t, row) =>
            if (row != null) {
              val vals = new Array[Any](nCols)
              var i = 0
              while (i < nCols) { vals(i) = row.get(i + 1); i += 1 }
              t.observe(vals)
            }
            t
          },
          (a, b) => a.merge(b))
        .foreachPartition { it =>
          val st = new HadoopStore(rootUri) // per-executor store
          it.foreach { case (name, t) => write(st, byName(name), t.result()) }
        }
      keys.size
    }
  }

  /** Can an object possibly hold a row with `column` in [lo, hi]? True
    * when stats are absent or unknown (conservative). NULLs never match a
    * range predicate, so they don't keep an object — only value bounds
    * do. */
  def mayContain(stats: Option[ObjectStats], column: String,
                 lo: BigDecimal, hi: BigDecimal): Boolean =
    mayContainRange(stats, column, Some(lo), Some(hi))

  /** [[mayContain]] with OPEN end support: `None` means unbounded on that
    * side (`col > v` is `(Some(v), None)`). A sentinel "huge" bound would
    * be a wrong-skip bug waiting — a FLOAT column legitimately holds
    * values past any finite sentinel — so open ends are first-class.
    * Strict vs closed comparison is deliberately NOT distinguished:
    * treating `> v` as `≥ v` can only keep an extra object (whose rows
    * the exact predicate rejects), never skip a right one. */
  def mayContainRange(stats: Option[ObjectStats], column: String,
                      lo: Option[BigDecimal], hi: Option[BigDecimal]): Boolean = stats match {
    case None => true
    case Some(s) => s.cols.get(column) match {
      case None => true // column unknown to the sidecar: keep
      case Some(cs) => (cs.min, cs.max) match {
        case (Some(mn), Some(mx)) =>
          lo.forall(l => mx.compareTo(l) >= 0) && hi.forall(h => mn.compareTo(h) <= 0)
        case _ =>
          // Bounds absent. All-null column (nulls == records): a range
          // predicate can never match — safe to SKIP. Otherwise non-null
          // values existed but weren't tracked (string type, NaN-poisoned)
          // — must KEEP.
          cs.nulls < s.records
      }
    }
  }
}
