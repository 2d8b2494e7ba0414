package perfbench

import graft.lake.Store

import java.io.{InputStream, OutputStream}
import java.util.concurrent.atomic.AtomicLong

/** A [[Store]] that forwards every method, defaults included, to `inner`
  * and times `put`. Forwarding the defaults matters: `createExclusive`,
  * `rename`, `deletePrefix` and `size` are overridden by the concrete
  * stores (an O_EXCL create, an atomic move), and a wrapper that fell back
  * to the trait defaults would change their semantics. */
final class TimedStore(val inner: Store, onPut: (String, Long, Long) => Unit = (_, _, _) => ())
    extends Store {
  val putNanos = new AtomicLong(0L)
  val puts = new AtomicLong(0L)

  override def put(key: String, data: InputStream): Unit = {
    val t0 = System.nanoTime()
    try inner.put(key, data)
    finally {
      val t1 = System.nanoTime()
      putNanos.addAndGet(t1 - t0); puts.incrementAndGet()
      onPut(key, t0, t1)
    }
  }
  override def create(key: String): OutputStream = inner.create(key)
  override def createExclusive(key: String): OutputStream = inner.createExclusive(key)
  override def open(key: String): InputStream = inner.open(key)
  override def list(prefix: String): Seq[String] = inner.list(prefix)
  override def exists(key: String): Boolean = inner.exists(key)
  override def size(key: String): Option[Long] = inner.size(key)
  override def delete(key: String): Unit = inner.delete(key)
  override def rename(src: String, dst: String): Unit = inner.rename(src, dst)
  override def deletePrefix(prefix: String): Unit = inner.deletePrefix(prefix)
  override def listDirs(prefix: String): Seq[String] = inner.listDirs(prefix)
  override def rootUri: String = inner.rootUri
}
