package graft.lake

import graft.types.TableSchema

import java.nio.charset.StandardCharsets

import scala.util.hashing.MurmurHash3

/** Per-object BLOOM sidecars for point-EQUALITY pruning — the capability
  * min/max zone maps cannot give: STRING columns are deliberately
  * untracked by [[ZoneMaps]] (collation trap), and high-cardinality IDs
  * in an unsorted layout have bands so wide every object intersects.
  * An equality probe (`col = value`) against a bloom skips every object
  * whose filter provably lacks the value — the Delta/Iceberg
  * bloom-filter-index idea, landed natively on the lake format. At
  * 100 TB this is the "find one document by key" path: a metadata walk
  * over ~8 KB filters instead of a full scan.
  *
  * Layout: `_zmaps/<objectKey>.bloom` — the same invisible root as the
  * stats sidecars (data reads never descend into `_zmaps/`), so the
  * `_zmaps/_staging` cleanup paths cover staged blooms for free.
  *
  * Values hash by their WIRE form ([[TypedCsv.formatValue]]), so the
  * reader probes with exactly the bytes the writer observed regardless
  * of the column's logical type. Nulls are never inserted — nor are
  * empty strings, which the wire format cannot distinguish from null
  * (the same round-trip rule [[ZoneMaps.Tracker]] applies to null
  * counts) — an equality probe is never an IS NULL predicate. Hashing
  * is MurmurHash3 over UTF-8 with `k` seeds: deterministic across JVMs,
  * no serialized hash-function state to version.
  *
  * Contract mirrors zone maps: a MISSING or unreadable bloom keeps the
  * object (pruning is an optimization, never a correctness gate); a
  * present bloom may wrongly KEEP (false positive, bounded by the m/k
  * sizing) but can never wrongly SKIP. Immutability caveat: an epoch
  * replay rewrites the same key with fresh bytes — the epoch publish
  * ([[StagedPublish.publishEpoch]]) deletes any bloom under a key it
  * republishes (exactly as it handles
  * stale stats sidecars), so a stale bloom can never skip rows a
  * rewrite added. */
object BloomMaps {

  def bloomKey(objectKey: String): String = ZoneMaps.Prefix + objectKey + ".bloom"

  /** `m` bits (multiple of 64), `k` hash seeds. Defaults give ~0.24%
    * false positives at 4096 distinct values per object and stay under
    * 2% up to ~10k distinct — an 8 KB sidecar per object per column. */
  val DefaultBits = 65536
  val DefaultHashes = 4

  /** Hash-seed ceiling the Tracker enforces and the strict parse
    * re-validates — [[wireHashes]] precomputes exactly this many seeds,
    * so a parsed filter can never ask for a seed the probe lacks. */
  val MaxHashes = 16

  /** The ONE m/k validity rule every producer shares (Tracker at write
    * time, [[buildIndex]] at entry) and [[parse]] re-checks on read: a
    * filter outside it would be silently rejected by the strict parse,
    * degrading every probe to conservative keep with no error — so a bad
    * shape must fail the WRITE, loudly, before any distributed work. */
  def validateShape(m: Int, k: Int): Unit = {
    require(m > 0 && m % 64 == 0, s"bloom bits must be a positive multiple of 64: $m")
    require(k >= 1 && k <= MaxHashes, s"bloom hash count out of range [1, $MaxHashes]: $k")
  }

  /** All [[MaxHashes]] seed-hashes of one wire form, computed ONCE per
    * probe value and reused across every object's filter (each filter
    * applies its own `m`/`k` to the same raw hashes). A multi-value
    * probe over a million objects hashes each value once, not once per
    * object. */
  def wireHashes(wire: String): Array[Int] = {
    val data = wire.getBytes(StandardCharsets.UTF_8)
    Array.tabulate(MaxHashes)(i => MurmurHash3.bytesHash(data, i))
  }

  final case class ColBloom(m: Int, k: Int, bits: Array[Byte]) {
    def mightContain(wire: String): Boolean = mightContainHashed(wireHashes(wire))

    /** [[mightContain]] over precomputed [[wireHashes]] — the batched
      * probe path. */
    def mightContainHashed(hashes: Array[Int]): Boolean = {
      var i = 0
      while (i < k) {
        val pos = ((hashes(i) % m) + m) % m
        if ((bits(pos >> 3) & (1 << (pos & 7))) == 0) return false
        i += 1
      }
      true
    }
    // Array[Byte] equality is by reference — give the case class value
    // semantics so parsed and tracked blooms compare in specs
    override def equals(o: Any): Boolean = o match {
      case c: ColBloom => m == c.m && k == c.k &&
        java.util.Arrays.equals(bits, c.bits)
      case _ => false
    }
    override def hashCode(): Int = m * 31 + k * 7 + java.util.Arrays.hashCode(bits)
  }

  final case class ObjectBlooms(records: Long, cols: Map[String, ColBloom])

  /** Streaming accumulator the writer drives row by row — O(k) per
    * tracked value, no buffering (the [[ZoneMaps.Tracker]] pattern). */
  final class Tracker(schema: TableSchema, columns: Seq[String],
                      m: Int = DefaultBits, k: Int = DefaultHashes) {
    validateShape(m, k)
    private val names = schema.columnNames
    private val colIdx = columns.map { c =>
      val i = names.indexOf(c)
      require(i >= 0, s"bloom column '$c' is not in schema ${schema.name}")
      i
    }.toArray
    private val colTypes = colIdx.map(schema.colTypes(_))
    private val bits = Array.fill(columns.length)(new Array[Byte](m / 8))
    private var records = 0L

    def observe(vals: Array[Any]): Unit = {
      records += 1
      var c = 0
      while (c < colIdx.length) {
        val v = vals(colIdx(c))
        // null and "" share the empty wire field: neither is insertable
        // as an equality-probe value
        if (v != null && v != "") {
          val data = TypedCsv.formatValue(v, colTypes(c))
            .getBytes(StandardCharsets.UTF_8)
          val b = bits(c)
          var i = 0
          while (i < k) {
            val pos = ((MurmurHash3.bytesHash(data, i) % m) + m) % m
            b(pos >> 3) = (b(pos >> 3) | (1 << (pos & 7))).toByte
            i += 1
          }
        }
        c += 1
      }
    }

    def result(): ObjectBlooms = ObjectBlooms(records,
      columns.zipWithIndex.map { case (c, i) =>
        c -> ColBloom(m, k, bits(i).clone())
      }.toMap)
  }

  def render(b: ObjectBlooms): String = {
    val cols = b.cols.toSeq.sortBy(_._1).map { case (name, cb) =>
      val b64 = java.util.Base64.getEncoder.encodeToString(cb.bits)
      s"${graft.Json.str(name)}:{" +
        s""""m":${cb.m},"k":${cb.k},"bits":"$b64"}"""
    }.mkString(",")
    s"""{"records":${b.records},"cols":{$cols}}"""
  }

  /** Minimal parser for [[render]]'s own fixed shape, STRICT like
    * [[ZoneMaps.parse]]: the result must re-render to the exact input
    * bytes, so a torn sidecar (whose truncated base64 could still decode
    * to a valid-looking but WRONG bit array — one that wrongly skips)
    * reads as None and the object is conservatively kept. */
  def parse(text: String): Option[ObjectBlooms] = try {
    val rec = """"records":(\d+)""".r.findFirstMatchIn(text).map(_.group(1).toLong)
    val col = ("\"([^\"]+)\":\\{\"m\":(\\d+),\"k\":(\\d+)," +
      "\"bits\":\"([A-Za-z0-9+/=]*)\"\\}").r
    val cols = col.findAllMatchIn(text).map { mm =>
      val m = mm.group(2).toInt
      val bytes = java.util.Base64.getDecoder.decode(mm.group(4))
      mm.group(1) -> ColBloom(m, mm.group(3).toInt, bytes)
    }.filter { case (_, cb) =>
      // enforce the TRACKER's invariants, not just shape consistency: a
      // corrupt-but-canonical {"m":0,...} or an m/bits mismatch would
      // otherwise escape the round-trip check and crash mightContain
      // (hash % 0, out-of-range bit index) inside the pruned read —
      // where the contract is conservative keep, never failure
      cb.m > 0 && cb.m % 64 == 0 && cb.k >= 1 && cb.k <= MaxHashes &&
        cb.bits.length == cb.m / 8
    }.toMap
    rec.map(ObjectBlooms(_, cols)).filter(b => render(b) == text)
  } catch { case _: Exception => None }

  /** BACK-FILL bloom sidecars over an EXISTING lake — "CREATE INDEX"
    * without rewriting a byte of data: one distributed pass reads every
    * object's rows, folds per-object filters executor-side
    * (`aggregateByKey` with bit-OR combine — the filters are the ONLY
    * shuffle payload, ~m/8 bytes per object per column, never the
    * rows), and writes each sidecar from the task that owns it.
    * Returns the number of objects indexed.
    *
    * Values hash by the wire form of their READ-BACK box (LongType →
    * "600", DoubleType → "3.0"), which can differ from what a
    * mistyped-producer write-time tracker inserted ("3" from a Long fed
    * to a FLOAT column) — [[LakeReader.readPrunedEq]] probes every
    * plausible wire form of a numerically-equal value, so either
    * sidecar origin answers every probe without a wrong skip.
    *
    * Concurrency: index settled hours. A streaming epoch REPLAY
    * rewrites its keys with fresh bytes and deletes any bloom it finds
    * there (the sink's stale-bloom rule), so a build racing a replay
    * loses its sidecar — never poisons a probe; a build racing
    * compaction/retention may fail loudly on a retired key
    * (`readKeys` reads the exact snapshot, `ignoreMissing = false`) —
    * the same schedule-off-maintenance-windows contract as pruned
    * reads. */
  def buildIndex(spark: org.apache.spark.sql.SparkSession, rootUri: String,
                 table: String, columns: Seq[String],
                 hourRange: Option[(java.time.Instant, java.time.Instant)] = None,
                 m: Int = DefaultBits, k: Int = DefaultHashes,
                 onlyMissing: Boolean = false): Int = {
    // validate m/k BEFORE any listing or distributed work: a k past
    // MaxHashes would write sidecars the strict parse silently rejects —
    // the whole (expensive) build degrading to a no-op index with no
    // error. (The Tracker construction below re-checks, but only on a
    // non-empty lake; the entry check covers the empty/onlyMissing-clean
    // cases too.)
    validateShape(m, k)
    val store = new HadoopStore(rootUri)
    val allKeys = LakeReader.listTableKeys(store, table, hourRange)
    // incremental mode: index only objects with no existing bloom —
    // semantics and caveats documented at ZoneMaps.buildIndex
    val keys = if (onlyMissing)
      ZoneMaps.missingSidecarKeys(store, allKeys, bloomKey)
    else allKeys
    buildForKeys(spark, rootUri, table, columns, keys, m, k)
  }

  /** The build pass over an EXPLICIT key snapshot — [[buildIndex]] minus
    * the listing, so [[LakeMaintenance.ensureIndexes]] can drive both
    * sidecar kinds off ONE listing. */
  private[lake] def buildForKeys(spark: org.apache.spark.sql.SparkSession,
                                 rootUri: String, table: String,
                                 columns: Seq[String], keys: Seq[String],
                                 m: Int = DefaultBits,
                                 k: Int = DefaultHashes): Int = {
    import org.apache.spark.sql.functions.{col, input_file_name}
    validateShape(m, k)
    val store = new HadoopStore(rootUri)
    if (keys.isEmpty) 0
    else {
      val schema = LakeReader.peekSchema(store, keys.head, table)
      // driver-side validation: bad column names / m / k fail the call
      new Tracker(schema, columns, m, k)
      val colTypes = {
        val byName = schema.columns.toMap
        columns.map(byName)
      }
      // object keys end in a UUID filename — unique by construction, so
      // the task-side file→key resolution is a suffix lookup (the full
      // input_file_name URI encoding never has to match rootUri's)
      val byName = keys.map(kk => kk.split('/').last -> kk).toMap
      require(byName.size == keys.size, "object filenames must be unique")
      val nCols = columns.length
      val mLocal = m; val kLocal = k
      // RAW read (dvs = empty): blooms describe PHYSICAL rows — a probe
      // hitting a vector-deleted value keeps its object conservatively,
      // never wrongly skips (same posture as every sidecar)
      val rows = LakeReader.readKeys(spark, store, table, keys,
          dvs = Some(Map.empty))
        .select(input_file_name() +: columns.map(col): _*)
        .rdd
      val zero = (0L, Array.fill(nCols)(new Array[Byte](mLocal / 8)))
      // a header-only (0-record) object yields NO rows, so aggregateByKey
      // alone would emit no entry for it and it would get no sidecar —
      // while a write-time tracker emits an always-skip empty filter. The
      // back-filled index must match writer-time pruning object-for-object
      // (l13's report-identity gate), so every listed key is seeded with a
      // null marker row that contributes nothing to the fold.
      val seeds = spark.sparkContext
        .parallelize(keys.map(_.split('/').last), KeyWalk.tasks(keys.length))
        .map(name => name -> (null: org.apache.spark.sql.Row))
      rows
        .map(r => r.getString(0).split('/').last -> r)
        .union(seeds)
        .aggregateByKey(zero)(
          { case ((n, bits), row) =>
            if (row == null) (n, bits) else {
            var c = 0
            while (c < nCols) {
              val v = row.get(c + 1)
              if (v != null && v != "") {
                val data = TypedCsv.formatValue(v, colTypes(c))
                  .getBytes(StandardCharsets.UTF_8)
                val b = bits(c)
                var i = 0
                while (i < kLocal) {
                  val pos = ((MurmurHash3.bytesHash(data, i) % mLocal) + mLocal) % mLocal
                  b(pos >> 3) = (b(pos >> 3) | (1 << (pos & 7))).toByte
                  i += 1
                }
              }
              c += 1
            }
            (n + 1, bits)
            }
          },
          { case ((n1, b1), (n2, b2)) =>
            var c = 0
            while (c < nCols) {
              val x = b1(c); val y = b2(c)
              var i = 0
              while (i < x.length) { x(i) = (x(i) | y(i)).toByte; i += 1 }
              c += 1
            }
            (n1 + n2, b1)
          })
        .foreachPartition { it =>
          val st = new HadoopStore(rootUri) // per-executor store
          it.foreach { case (name, (n, bits)) =>
            write(st, byName(name), ObjectBlooms(n,
              columns.zipWithIndex.map { case (c, i) =>
                c -> ColBloom(mLocal, kLocal, bits(i))
              }.toMap))
          }
        }
      keys.size
    }
  }

  def write(store: Store, objectKey: String, blooms: ObjectBlooms): Unit = {
    val out = store.create(bloomKey(objectKey))
    try out.write(render(blooms).getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  def read(store: Store, objectKey: String): Option[ObjectBlooms] = try {
    val in = store.open(bloomKey(objectKey))
    try parse(new String(in.readAllBytes(), StandardCharsets.UTF_8)) finally in.close()
  } catch { case _: Exception => None }

  /** Can the object possibly hold a row with `column` equal to the value
    * whose wire form is `wire`? True when the bloom is absent, unreadable,
    * or does not track the column (conservative). */
  def mightContain(blooms: Option[ObjectBlooms], column: String, wire: String): Boolean =
    blooms match {
      case None => true
      case Some(b) => b.cols.get(column) match {
        case None => true
        case Some(cb) => cb.mightContain(wire)
      }
    }

  /** [[mightContain]] over precomputed [[wireHashes]] — same conservative
    * semantics (absent filter / untracked column keep). */
  def mightContainHashed(blooms: Option[ObjectBlooms], column: String,
                         hashes: Array[Int]): Boolean =
    blooms match {
      case None => true
      case Some(b) => b.cols.get(column) match {
        case None => true
        case Some(cb) => cb.mightContainHashed(hashes)
      }
    }
}
