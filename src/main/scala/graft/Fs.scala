package graft

/** Local-filesystem helpers shared by the query fixture slots
  * (`graft.queries.Fixtures`) and specs — one recursive delete instead of
  * a copy per call site. */
private[graft] object Fs {
  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }
}
