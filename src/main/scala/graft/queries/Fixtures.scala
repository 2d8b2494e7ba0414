package graft.queries

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, floor}

import graft.lake.{HadoopStore, LakeCatalog}
import graft.types.ColType

/** The one owner of the declared queries' scratch state: the local slot
  * directories they write lakes, round-trip copies and checkpoints into,
  * the wipe before a lake fixture lands, the SQL catalog over it, and the
  * `events`/`vc` frame most lake fixtures are cut from.
  *
  * Every slot lives under one per-process tree,
  * `<tmpdir>/graft-fixtures/<pid>/<name>/<sf>`:
  *  - overwrite-mode reuses a slot within one process, and the pid keeps
  *    concurrent processes disjoint;
  *  - a shutdown hook deletes this pid's tree, so repeated harness
  *    processes don't accumulate corpus copies in tmpdir;
  *  - at the first slot of a process, the trees of dead pids are reaped
  *    (a kill -9 skips shutdown hooks), as is any tree untouched for a
  *    week. The pid liveness probe can false-positive when the OS
  *    recycles a dead owner's pid; the age bound covers that, and it is
  *    safe for live owners because every slot access touches the pid
  *    directory (writes land in nested dirs and would not refresh it).
  *
  * No segment below tmpdir contains `=`: a Hive-style `k=v` segment would
  * turn into a partition column under a `mergeSchema` read (l08). */
private[queries] object Fixtures {
  private val MaxAgeMs = 7L * 24 * 3600 * 1000

  private[queries] def pidTree(base: File): File =
    new File(base, ProcessHandle.current().pid().toString)

  /** `name`'s slot for dataset `dir` under `base`, touching the pid tree. */
  private[queries] def slotIn(base: File, name: String, dir: String): File = {
    val tree = pidTree(base)
    tree.mkdirs()
    tree.setLastModified(System.currentTimeMillis())
    def seg(s: String) = s.replace('=', '_')
    new File(new File(tree, seg(name)), seg(new File(dir).getName))
  }

  /** Startup sweep: delete every pid tree under `base` whose process is
    * gone or which is older than a week; leave non-pid names alone. */
  private[queries] def reap(base: File, now: Long): Unit =
    Option(base.listFiles()).foreach(_.foreach { tree =>
      scala.util.Try(tree.getName.toLong).toOption.foreach { pid =>
        if (!ProcessHandle.of(pid).isPresent || now - tree.lastModified() >= MaxAgeMs)
          graft.Fs.deleteRecursively(tree)
      }
    })

  /** The shutdown hook's sweep: this pid's whole tree. */
  private[queries] def release(base: File): Unit = graft.Fs.deleteRecursively(pidTree(base))

  private lazy val base: File = {
    val b = new File(System.getProperty("java.io.tmpdir"), "graft-fixtures")
    reap(b, System.currentTimeMillis())
    sys.addShutdownHook(release(b))
    b
  }

  /** This process's slot `name` for dataset `dir`, as a Hadoop URI.
    * File.toURI, not string interpolation: a tmpdir containing spaces or
    * URI-special characters must still yield a valid Hadoop URI. */
  def slot(name: String, dir: String): String =
    slotIn(base, name, dir).toURI.toString.stripSuffix("/")

  /** An emptied slot and a store over it: the lake fixture's starting
    * point, so a re-run in the same process never sees the last run's
    * objects. */
  def freshLake(name: String, dir: String): (String, HadoopStore) = {
    val root = slot(name, dir)
    val store = new HadoopStore(root)
    store.deletePrefix("")
    (root, store)
  }

  /** An emptied slot for local scratch such as a stream checkpoint,
    * wiped by a plain file delete so it costs no metered store ops. */
  def freshDir(name: String, dir: String): String = {
    val f = slotIn(base, name, dir)
    graft.Fs.deleteRecursively(f)
    f.toURI.toString.stripSuffix("/")
  }

  /** Register a [[LakeCatalog]] over `root` and return its name. The name
    * is root-HASHED: Spark caches the catalog INSTANCE at first use, so a
    * fixed name would pin the warm-up run's root for the whole JVM
    * (TimeQuery warms at sf0.001, then times sf0.1). */
  def lakeCatalog(s: SparkSession, prefix: String, root: String): String = {
    val cat = s"$prefix${math.abs(root.hashCode)}"
    s.conf.set(s"spark.sql.catalog.$cat", classOf[LakeCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    cat
  }

  /** Lake columns of [[eventsVc]]. */
  val EventsVc: Seq[(String, ColType)] = Seq(
    "event_id" -> ColType.CInteger, "user_id" -> ColType.CInteger, "vc" -> ColType.CInteger)

  /** `events` as (event_id, user_id, vc): value in integer cents, the
    * oracle's exact cross-engine form. */
  def eventsVc(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "events").select(col("event_id"), col("user_id"),
      floor(col("value") * 100 + 0.5).cast("long").as("vc"))
}
