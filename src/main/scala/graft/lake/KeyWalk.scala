package graft.lake

import scala.reflect.ClassTag

import org.apache.spark.sql.SparkSession

/** The one place a lake METADATA walk decides where it runs. The lake
  * lays out one object per flush under `YYYY/MM/DD/HH/table/`, so every
  * metadata operation — sidecar prune, bloom probe, stats rollup, header
  * peek, health report, retention, retirement — is a walk over object
  * keys. Small walks run on the driver (a Spark job costs more than it
  * saves); large ones fan out to executors, one per-task [[HadoopStore]]
  * each, so a million-object walk is a few hundred parallel tasks rather
  * than a serial driver loop of store calls.
  *
  * Everything is built on [[partials]]: `f` folds an iterator of keys
  * into one partial result — once over all keys with the caller's store
  * on the driver, once per task on executors — and the partials come
  * back in key order. Callers that merge partials (stats rollups) see
  * one partial on the driver, so a lazy short-circuit inside `f` keeps
  * working there. */
object KeyWalk {

  /** What a walk does per key, which decides how many keys stay on the
    * driver. */
  sealed abstract class Kind(val driverUpTo: Int)

  /** Sidecar reads and header peeks, ~100-byte GETs: a driver loop
    * keeps up to a few thousand of them. */
  case object Read extends Kind(4096)

  /** Object deletes (retention, retirement): each is a data-plane call
    * with its sidecars, so they fan out sooner. */
  case object Delete extends Kind(256)

  /** Where a walk runs; see [[pinned]]. */
  private[graft] sealed trait Branch
  private[graft] case object OnDriver extends Branch
  /** `tasks = 0` keeps the walk's own sizing ([[tasks]]). */
  private[graft] final case class OnExecutors(tasks: Int = 0) extends Branch

  // not inheritable: a pool thread first started inside a pinned block
  // must not carry the pin into later, unrelated walks
  private val pin = ThreadLocal.withInitial[Option[Branch]](() => None)

  /** Test seam: every walk started in `body` on this thread takes
    * `branch`, whatever its size — so specs and in-query checks can
    * compare the executor walk with the driver walk on a small lake. */
  private[graft] def pinned[T](branch: Branch)(body: => T): T = {
    val prior = pin.get
    pin.set(Some(branch))
    try body finally pin.set(prior)
  }

  /** Executor tasks for a walk over `n` keys: ~64 keys per task, at most
    * 256 tasks. */
  private[lake] def tasks(n: Int): Int = math.min(256, 1 + n / 64)

  /** Whether a walk over `n` keys of `kind` runs on executors. An empty
    * walk never does. */
  private[lake] def fansOut(n: Int, kind: Kind = Read): Boolean =
    n > 0 && (pin.get match {
      case Some(b) => b != OnDriver
      case None => n > kind.driverUpTo
    })

  /** `f` over `keys`: one partial on the driver (with `store`), or one
    * per executor task (each with its own store on `store.rootUri`), in
    * key order. With no active or default Spark session there are no
    * executors to fan out to, and the walk runs on the driver. `f` must
    * consume its iterator before returning and be serializable with its
    * captures. */
  private[lake] def partials[A: ClassTag](store: Store, keys: Seq[String],
      kind: Kind = Read)(f: (Store, Iterator[String]) => A): Seq[A] = {
    lazy val session = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    if (!fansOut(keys.length, kind) || session.isEmpty) Seq(f(store, keys.iterator))
    else {
      val rootUri = store.rootUri
      val n = pin.get match {
        case Some(OnExecutors(t)) if t > 0 => t
        case _ => tasks(keys.length)
      }
      session.get.sparkContext.parallelize(keys, n)
        .mapPartitions(it => Iterator.single(f(new HadoopStore(rootUri), it)))
        .collect().toSeq
    }
  }

  /** The keys `keep` holds, in key order (a read walk). */
  private[lake] def filter(store: Store, keys: Seq[String])(
      keep: (Store, String) => Boolean): Seq[String] =
    partials(store, keys)((st, it) => it.filter(keep(st, _)).toVector).flatten

  /** `g` of every key, in key order (a read walk). */
  private[lake] def map[B](store: Store, keys: Seq[String])(
      g: (Store, String) => B): Seq[B] =
    partials(store, keys)((st, it) => it.map(g(st, _)).toVector).flatten

  /** `g` on every key, for its effect. */
  private[lake] def foreach(store: Store, keys: Seq[String], kind: Kind)(
      g: (Store, String) => Unit): Unit =
    partials(store, keys, kind)((st, it) => it.foreach(g(st, _)))
}
