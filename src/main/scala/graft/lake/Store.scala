package graft.lake

import java.io.{BufferedOutputStream, ByteArrayInputStream, ByteArrayOutputStream, InputStream,
  OutputStream, SequenceInputStream}
import java.net.URI
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{AtomicMoveNotSupportedException, FileVisitOption, FileVisitResult,
  Files, NoSuchFileException, SimpleFileVisitor, StandardCopyOption, StandardOpenOption,
  Path => JPath}
import java.nio.file.attribute.BasicFileAttributes
import java.util.zip.{CRC32, CheckedInputStream, Deflater, DeflaterInputStream, GZIPOutputStream}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CommonConfigurationKeysPublic, FileSystem, Path, RawLocalFileSystem}

/** Abstract key→byte-stream sink, the analogue of the reference's `Store`
  * interface (`/root/reference/lib/store/Store.ts:4-9`: `put(key, stream)`).
  *
  * One implementation serves every Hadoop-supported scheme (`file://`,
  * `s3a://`, `hdfs://`), which subsumes the reference's `StoreFS`
  * (`StoreFS.ts`) and `StoreS3` (`StoreS3.ts`): on a real cluster the same
  * code path lands objects in S3 via the S3A committer.
  */
/** Deflate tuning for the DATA-volume gzip writers ([[LakeWriter]] and
  * the Collector spool). Default BEST_SPEED (level 1), overridable with
  * `-Dgraft.gzip.level=N`: measured on this wire format (typed-CSV rows —
  * short, low-redundancy fields) level 1 compresses ~6× faster than the
  * JDK default level 6 for ~0.6 pp worse ratio, so the default level
  * spends the ingest path's CPU on compression that buys almost no
  * bytes (guide §2.3: "there is no universal answer — measure ... with
  * each"; measured r16). Metadata writers (generation records, sidecars,
  * manifests — tiny, write-once) keep the JDK default: their cost is the
  * RPC, not the deflate. */
object GzipOut {
  val level: Int = sys.props.get("graft.gzip.level") match {
    case None => java.util.zip.Deflater.BEST_SPEED
    case Some(v) =>
      // validate HERE with the property named (r16 ADVICE): an unchecked
      // toInt surfaced as ExceptionInInitializerError, and an out-of-range
      // value as an anonymous IllegalArgumentException from
      // Deflater.setLevel deep inside the first batch flush
      val n = v.toIntOption.getOrElse(throw new IllegalArgumentException(
        s"-Dgraft.gzip.level must be an integer in -1..9, got '$v'"))
      require(n >= -1 && n <= 9,
        s"-Dgraft.gzip.level must be in -1..9 (java.util.zip.Deflater levels), got $n")
      n
  }
  def apply(raw: OutputStream): GZIPOutputStream =
    new GZIPOutputStream(raw) { `def`.setLevel(level) }

  /** The 10 header bytes `GZIPOutputStream` writes on this JDK. */
  private lazy val header: Array[Byte] = {
    val b = new ByteArrayOutputStream
    new GZIPOutputStream(b).finish()
    b.toByteArray.take(10)
  }

  /** The pull form of [[apply]]: reading it yields the bytes [[apply]]
    * writes for the bytes of `raw` (header, raw deflate at [[level]],
    * CRC32 + ISIZE trailer). Deflate runs on the thread that reads it,
    * so a Store upload compresses as it goes. `close` ends the `Deflater`
    * and closes `raw`. */
  def reading(raw: InputStream): InputStream = {
    val deflater = new Deflater(level, true)
    val checked = new CheckedInputStream(raw, new CRC32)
    val body = new DeflaterInputStream(checked, deflater, 64 * 1024)
    // built only once the body is drained: CRC and size of all of `raw`
    def trailer = {
      val b = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      b.putInt(checked.getChecksum.getValue.toInt).putInt(deflater.getBytesRead.toInt)
      new ByteArrayInputStream(b.array)
    }
    val parts = Iterator[InputStream](new ByteArrayInputStream(header), body) ++
      Iterator.continually(trailer).take(1)
    new SequenceInputStream(parts.asJavaEnumeration) {
      override def close(): Unit = try super.close() finally deflater.end()
    }
  }
}

trait Store extends Serializable {
  /** Stream `data` to `key`, creating parent dirs as needed. */
  def put(key: String, data: InputStream): Unit
  /** Open an output stream at `key` (preferred: avoids buffering). */
  def create(key: String): OutputStream
  /** Open an output stream at `key` FAILING if the key already exists —
    * the compare-and-swap primitive [[LakeVersions]] serializes
    * multi-object commits on. Contract: of N concurrent creators of one
    * key, at most one wins; losers see
    * `java.nio.file.FileAlreadyExistsException` (or an IOException
    * naming the existing key). The default is the check-then-create
    * HDFS shape (`FileSystem.create(overwrite = false)` — atomic where
    * the namenode arbitrates); [[HadoopStore]] upgrades `file://` to a
    * true O_EXCL create. S3-style backends should override with a
    * conditional PUT (`If-None-Match: *`). */
  def createExclusive(key: String): OutputStream = {
    if (exists(key))
      throw new java.nio.file.FileAlreadyExistsException(key)
    create(key)
  }
  def open(key: String): InputStream
  def list(prefix: String): Seq[String]
  def exists(key: String): Boolean
  /** Byte size of `key` (one stat RPC), None where the backend cannot
    * answer without a download — the objects metadata read degrades its
    * `bytes` column to null there rather than reading data. */
  def size(key: String): Option[Long] = None
  /** Remove `key` (idempotent: missing keys are a no-op). */
  def delete(key: String): Unit
  /** Move `src` to `dst` (copy+delete where the backend has no rename —
    * S3-style stores). Used by compaction's publish step. */
  def rename(src: String, dst: String): Unit = {
    put(dst, open(src)); delete(src)
  }
  /** Remove every key under `prefix` (idempotent). */
  def deletePrefix(prefix: String): Unit = list(prefix).foreach(delete)
  /** Immediate child DIRECTORY names under `prefix` (non-recursive) — one
    * listing RPC per level, the delimiter-style listing object stores
    * offer. Lets readers walk `YYYY/MM/DD/HH` levels without enumerating
    * every object in the lake. */
  def listDirs(prefix: String): Seq[String]
  /** Root URI as a string, for Spark datasource paths. */
  def rootUri: String
}

/** Process-wide store-operation counters — the METADATA meter. Wall
  * seconds and even task_ms are hostage to GC and host contention, but
  * the NUMBER of store round-trips a query issues is a property of the
  * plan: on a real object store every one is a billed LIST/GET/PUT RPC,
  * so metadata amplification (a listing per trigger that should be a
  * cached read, a record re-read per scan) shows here deterministically
  * even when local wall time cannot see it. [[graft.Meter]] snapshots
  * the counters around the scale-claim bench queries and
  * [[graft.BenchGates]] asserts ceilings — a protocol change that
  * multiplies per-trigger metadata reads now fails the bench like a
  * byte blow-up does. Counting is a few atomic increments per REAL
  * store RPC — noise next to the RPC itself. */
object StoreOps {
  val lists = new java.util.concurrent.atomic.AtomicLong(0L)
  val reads = new java.util.concurrent.atomic.AtomicLong(0L)   // open/exists
  val writes = new java.util.concurrent.atomic.AtomicLong(0L)  // create/put/rename
  val deletes = new java.util.concurrent.atomic.AtomicLong(0L)
  def total: Long = lists.get + reads.get + writes.get + deletes.get
}

/** Hadoop-FileSystem-backed store rooted at `root` (e.g. `file:///tmp/lake`
  * or `s3a://bucket/prefix`).
  *
  * On a local root (`RawLocalFileSystem` once the checksum wrapper is
  * unwrapped) `create`, `createExclusive`, `list`, `rename` and
  * `newestModification` go through java.nio instead: without the native
  * Hadoop library the local filesystem forks `chmod` for every file and
  * directory it creates and `ls -ld` for every file a `listFiles` walk
  * returns. Those forks were a third of a Collector pass of 135 objects
  * (perfbench `ingest`, 4-core VM: `pass_s` 1.42 → 0.97 s). Keys, bytes,
  * listing order and [[StoreOps]] counts are the same on both branches;
  * every other scheme takes the Hadoop branch.
  *
  * Every instance, including the copies executors deserialize, resolves
  * its filesystem through the one [[HadoopStore.conf]] of its JVM. */
final class HadoopStore(val rootUri: String) extends Store {
  @transient private[lake] lazy val conf: Configuration = HadoopStore.conf
  @transient private lazy val fs = {
    val f = FileSystem.get(new URI(rootUri), conf)
    f match {
      // the RAW local fs, not the checksummed wrapper: `.crc` sidecars
      // break the atomic rename-OVER swap (moving the data file leaves
      // a stale checksum that poisons the next read), and a lake object
      // store carries its own integrity story — the checksum wrapper
      // buys nothing here. Raw rename onto an existing destination is
      // POSIX rename(2): an atomic replace, old or new, never torn.
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }
  }
  /** The local filesystem the nio branches resolve keys through (the
    * same `pathToFile` Hadoop itself uses), or None off the local disk. */
  @transient private lazy val localFs: Option[RawLocalFileSystem] = fs match {
    case raw: RawLocalFileSystem => Some(raw)
    case _ => None
  }
  private def p(key: String) =
    if (key.isEmpty) new Path(new URI(rootUri)) else new Path(new Path(new URI(rootUri)), key)
  private def local(key: String): Option[JPath] = localFs.map(_.pathToFile(p(key)).toPath)

  override def create(key: String): OutputStream = {
    StoreOps.writes.incrementAndGet()
    local(key) match {
      case Some(f) =>
        Files.createDirectories(f.getParent)
        // create-or-truncate, buffered as RawLocalFileSystem.create is
        new BufferedOutputStream(Files.newOutputStream(f), fs.getConf.getInt(
          CommonConfigurationKeysPublic.IO_FILE_BUFFER_SIZE_KEY,
          CommonConfigurationKeysPublic.IO_FILE_BUFFER_SIZE_DEFAULT))
      case None => fs.create(p(key), true)
    }
  }

  override def createExclusive(key: String): OutputStream = {
    StoreOps.writes.incrementAndGet()
    local(key) match {
      case Some(f) =>
        // a REAL O_EXCL create (atomic under concurrent creators), which
        // RawLocalFileSystem's check-then-create is not
        Files.createDirectories(f.getParent)
        Files.newOutputStream(f, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
      case None => fs.create(p(key), false) // namenode-atomic on HDFS-like stores
    }
  }

  override def put(key: String, data: InputStream): Unit = {
    val out = create(key)
    try {
      val buf = new Array[Byte](64 * 1024)
      var n = data.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = data.read(buf) }
    } finally { out.close(); data.close() }
  }

  override def open(key: String): InputStream = {
    StoreOps.reads.incrementAndGet()
    fs.open(p(key))
  }

  override def list(prefix: String): Seq[String] = {
    // bounded retry: a concurrent delete (a committer retiring objects,
    // a janitor sweeping) can vanish an entry between the recursive
    // walk's enumeration and its stat — the Hadoop walk throws where a
    // real object store's LIST would simply not return the key (the
    // local walk skips it). A retried listing is just a newer snapshot,
    // which every caller already tolerates.
    var attempt = 0
    while (true) {
      try return listOnce(prefix)
      catch {
        case _: Exception if attempt < 5 =>
          attempt += 1
          Thread.sleep(20L * attempt)
      }
    }
    sys.error("unreachable")
  }

  private def listOnce(prefix: String): Seq[String] = {
    StoreOps.lists.incrementAndGet()
    val out = Seq.newBuilder[String]
    local(prefix) match {
      case Some(base) =>
        val root = local("").get
        walkFiles(base) { (f, _) =>
          out += root.relativize(f).toString.replace(java.io.File.separatorChar, '/')
        }
      case None =>
        val base = p(prefix)
        if (fs.exists(base)) {
          val it = fs.listFiles(base, true)
          val rootPath = new Path(new URI(rootUri)).toUri.getPath.stripSuffix("/")
          while (it.hasNext) {
            val f = it.next().getPath.toUri.getPath
            out += f.stripPrefix(rootPath).stripPrefix("/")
          }
        }
    }
    out.result()
  }

  /** Depth-first walk of the regular files under `start` (or `start`
    * itself when it names a file), in directory order as Hadoop's
    * recursive `listFiles` walks, following links as java.io.File does.
    * A missing `start` and entries deleted mid-walk are skipped, not
    * errors: a LIST does not return what is gone. */
  private def walkFiles(start: JPath)(visit: (JPath, BasicFileAttributes) => Unit): Unit = {
    Files.walkFileTree(start, java.util.EnumSet.of(FileVisitOption.FOLLOW_LINKS),
      Int.MaxValue, new SimpleFileVisitor[JPath] {
        override def visitFile(f: JPath, a: BasicFileAttributes): FileVisitResult = {
          if (a.isRegularFile) visit(f, a)
          FileVisitResult.CONTINUE
        }
        override def visitFileFailed(f: JPath, e: java.io.IOException): FileVisitResult =
          e match {
            case _: NoSuchFileException => FileVisitResult.CONTINUE
            case _ => throw e
          }
      })
    ()
  }

  override def exists(key: String): Boolean = {
    StoreOps.reads.incrementAndGet()
    fs.exists(p(key))
  }

  override def size(key: String): Option[Long] = {
    StoreOps.reads.incrementAndGet()
    try Some(fs.getFileStatus(p(key)).getLen)
    catch { case _: java.io.FileNotFoundException => None }
  }

  override def delete(key: String): Unit = {
    StoreOps.deletes.incrementAndGet()
    fs.delete(p(key), false); ()
  }

  override def rename(src: String, dst: String): Unit = {
    StoreOps.writes.incrementAndGet()
    (local(src), local(dst)) match {
      case (Some(s), Some(d)) =>
        // POSIX rename(2): an existing destination is replaced
        // atomically — the rename-OVER swap (a WAP audit intent replaced
        // mid-branch-DML) must never show readers a torn object, which
        // the put-fallback's in-place truncate+write would (a racing
        // intent read sees "no hidden keys" and a stream delivers the
        // branch's hidden objects)
        Files.createDirectories(d.getParent)
        try Files.move(s, d, StandardCopyOption.ATOMIC_MOVE)
        catch { case _: AtomicMoveNotSupportedException =>
          super.rename(src, dst) // genuine cross-volume: no atomic path
        }
      case _ =>
        val d = p(dst)
        fs.mkdirs(d.getParent) // HDFS rename requires an existing parent
        // a real object store replaces atomically at PUT, so the
        // streaming fallback is safe there
        if (!fs.rename(p(src), d)) super.rename(src, dst)
    }
  }

  override def deletePrefix(prefix: String): Unit = {
    StoreOps.deletes.incrementAndGet()
    val base = p(prefix)
    if (fs.exists(base)) { fs.delete(base, true); () }
  }

  override def listDirs(prefix: String): Seq[String] = {
    StoreOps.lists.incrementAndGet()
    val base = p(prefix)
    if (!fs.exists(base)) Seq.empty
    else fs.listStatus(base).toSeq.filter(_.isDirectory).map(_.getPath.getName)
  }

  /** NEWEST modification instant under `prefix` (the prefix's own stamp
    * when it holds no files — a crashed job can leave an empty dir).
    * The staging janitor's liveness signal: an uuid-named staging
    * prefix carries no timestamp of its own, but any in-flight write
    * refreshes a file's mtime, so "newest entry older than the cutoff"
    * can never sweep a prefix an alive job is still writing into.
    * HadoopStore-only (FileStatus mtimes are a filesystem notion, not
    * part of the minimal [[Store]] contract fault doubles implement). */
  private[lake] def newestModification(prefix: String): Option[java.time.Instant] = {
    // FILES only: directory mtimes refresh on child creation (mkdirs of
    // a nested hour path stamps every ancestor "now"), which would make
    // a crashed job's old content look alive forever. The prefix's own
    // stamp serves only the no-files case (an empty dir left behind).
    val stamp = local(prefix) match {
      case Some(base) =>
        var newest = -1L
        walkFiles(base)((_, a) => newest = math.max(newest, a.lastModifiedTime.toMillis))
        if (newest >= 0) Some(newest)
        else try Some(Files.getLastModifiedTime(base).toMillis)
        catch { case _: NoSuchFileException => None }
      case None =>
        val base = p(prefix)
        if (!fs.exists(base)) None
        else {
          var newest = -1L
          val it = fs.listFiles(base, true)
          while (it.hasNext) newest = math.max(newest, it.next().getModificationTime)
          Some(if (newest >= 0) newest else fs.getFileStatus(base).getModificationTime)
        }
    }
    stamp.map(java.time.Instant.ofEpochMilli)
  }
}

object HadoopStore {
  /** The Hadoop configuration every [[HadoopStore]] in this JVM resolves
    * its filesystem with: loaded once, never mutated. A fresh
    * `Configuration` re-parses `core-default.xml` and searches every jar
    * for a `core-site.xml` (~10 ms on a 4-core VM), and a perfbench
    * `lake` pass built 116 stores: one per scanned object, write task and
    * rewrite. All a store reads from it is what `FileSystem.get` looks up
    * (`fs.defaultFS`, the filesystem class, its cache switch) and the
    * buffer size, and that cache already handed every store of one
    * scheme, authority and user the same `FileSystem`. Sharing it is safe
    * because no store writes to it: a store that needed its own settings
    * would need a conf of its own, not a change to this one. */
  private[lake] lazy val conf: Configuration = new Configuration()
}
