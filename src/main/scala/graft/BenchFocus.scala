package graft

/** Focused repeat-measurement harness: time a subset of registered queries
  * N times each in one warmed JVM. Usage:
  *   runMain graft.BenchFocus <sfDir> <reps> <query>[,<query>...]
  * Prints one line per (query, rep) — `FAILED` for a rep that threw — plus
  * the median over the reps that succeeded: the tool for separating real
  * plan regressions from single-run JIT/GC noise.
  */
object BenchFocus {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, repsS, names) = args
    val reps = repsS.toInt
    // same session, warm-up and per-query timer as Bench — medians from
    // this tool are directly comparable to Bench's
    val spark = Sessions.local()
    Bench.warmUp(spark, sfDir)
    val picked = names.split(",").toSeq
    val times = picked.map { n =>
      val fn = SparkEntry.queries(n)
      val ok = (1 to reps).flatMap { r =>
        val dt = Bench.timeQuery(spark, sfDir, n, fn)
        println(dt.fold(s"[focus] $n rep$r: FAILED")(
          t => f"[focus] $n rep$r: $t%.2f s"))
        dt
      }
      n -> Option.when(ok.nonEmpty)(ok.sorted.apply(ok.size / 2))
    }
    times.foreach { case (n, med) =>
      println(med.fold(s"[focus] MEDIAN $n: FAILED")(
        m => f"[focus] MEDIAN $n: $m%.2f s"))
    }
    spark.stop()
  }
}
