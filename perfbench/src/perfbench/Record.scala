package perfbench

/** Records the output signature of every workload entry at every scale
  * the workloads run it at. Each entry runs twice; an entry whose two
  * signatures differ is reported and left out of the file, so a run
  * would flag it. */
object Record {
  def run(args: Main.Args): String = {
    val spark = Main.session(args)
    val rows = for {
      wd <- Workloads.all
      sf <- (wd.sf +: wd.fitSf.toSeq).distinct
      dir = Gen.generate(spark, sf)
      n <- wd.entries
    } yield {
      val fn = graft.SparkEntry.queries(n)
      val a = Entries.run(spark, n, fn, dir)
      val b = Entries.run(spark, n, fn, dir)
      (a.sig, b.sig) match {
        case (Some(x), Some(y)) if x == y => Some((n, sf, x))
        case _ =>
          System.err.println(s"[perfbench] $n@$sf not recorded: ${a.error.orElse(b.error).getOrElse(s"${a.sig} vs ${b.sig}")}")
          None
      }
    }
    Main.writeText(args.signatures, Signatures.format(rows.flatten))
    Json.obj(Seq("recorded" -> rows.flatten.size.toString, "skipped" -> rows.count(_.isEmpty).toString))
  }
}
