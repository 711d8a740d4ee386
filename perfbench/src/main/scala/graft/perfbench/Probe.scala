package graft.perfbench

import java.io.File

/** Runs registered queries once each over a copy of a data directory,
  * after staging every family into an empty store, and prints one JSON
  * line per query: family, rows, build/plan/execute seconds, and the
  * DuckDB oracle SQL where the query has one. This
  * is how `expected_rows.json` is generated and how query lists are
  * sized.
  *
  * Arguments: `<data dir> <work dir> <cores> [query ...]` (all
  * registered queries when none are named).
  */
object Probe {
  def main(argv: Array[String]): Unit = {
    val Array(data, work, cores) = argv.take(3)
    val names = if (argv.length > 3) argv.drop(3).toSeq
      else Registry.families.flatMap(_._2.map(_.name))
    val spark = Main.session(cores, work)
    try {
      val dir = s"$work/data"
      Files.copyDir(new File(data), new File(dir))
      spark.conf.set(graft.FrameCache.IndexDirConf, s"$work/store")
      Registry.staged.foreach { case (f, warm) =>
        val t0 = System.nanoTime()
        warm(spark, dir)
        System.err.println(f"[probe] staged $f in ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      names.foreach { name =>
        val (family, q) = Registry.byName(name)
        val line = Json.obj().put("query", name).put("family", family)
        try {
          val t0 = System.nanoTime()
          val df = q.fn(spark, dir)
          val t1 = System.nanoTime()
          df.queryExecution.executedPlan
          val t2 = System.nanoTime()
          val rows = df.queryExecution.toRdd.count()
          val t3 = System.nanoTime()
          line.put("rows", rows).put("build_s", (t1 - t0) / 1e9)
            .put("plan_s", (t2 - t1) / 1e9).put("exec_s", (t3 - t2) / 1e9)
        } catch { case e: Throwable => line.put("error", e.toString.take(300)) }
        q.oracle.foreach(line.put("oracle", _))
        println(Json.write(line))
      }
    } finally spark.stop()
  }
}
