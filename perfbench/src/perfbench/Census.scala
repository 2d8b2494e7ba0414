package perfbench

import java.io.File

/** The traced run's counter census: each counter's value in every traced
  * pass, whether it repeated exactly across those passes, the Spark jobs
  * of the traced passes by call site, and the self time of every span
  * name. Only counters that repeat exactly are fit to gate on. */
object Census {
  /** Counters whose values are times or depend on timing are not
    * candidates for exact repetition and are left out. */
  private def isCount(k: String): Boolean =
    !(k.endsWith("_s") || k.endsWith(".s") || k.endsWith("_us") || k.endsWith("_ms") || k.endsWith("_mb") ||
      k.endsWith("_frac") || k == "exec.skew")

  def write(f: File, passes: Seq[Map[String, Double]], sites: Map[String, (Long, Double)],
            selfUs: Map[String, Long]): Unit = {
    val keys = passes.flatMap(_.keys).distinct.filter(isCount).sorted
    val counters = keys.map { k =>
      val vs = passes.map(_.getOrElse(k, 0.0))
      k -> Json.obj(Seq("repeats" -> (vs.distinct.size == 1).toString,
        "per_pass" -> vs.map(Json.num).mkString("[", ",", "]")))
    }
    val siteRows = sites.toSeq.sortBy { case (s, (n, _)) => (-n, s) }.map { case (s, (n, secs)) =>
      Json.obj(Seq("site" -> Json.str(s), "jobs" -> n.toString, "seconds" -> Json.num(secs)))
    }
    val self = selfUs.toSeq.sortBy(-_._2).map { case (n, us) => n -> Json.num(us / 1e6) }
    Main.writeText(f, Json.obj(Seq("traced_passes" -> passes.size.toString, "counters" -> Json.obj(counters),
      "jobs_by_call_site" -> siteRows.mkString("[", ",", "]"), "self_s_by_span" -> Json.obj(self))) + "\n")
  }
}
