package graft.perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.QueryDef

/** The registered queries by family, as the engine's modules list them. */
object Registry {
  val families: Seq[(String, Seq[QueryDef])] = Seq(
    "analytics" -> graft.queries.Analytics.all,
    "coordination" -> graft.queries.Coordination.all,
    "text" -> graft.queries.TextAnalysis.all,
    "dedup" -> graft.queries.Dedup.all,
    "similarity" -> graft.queries.Similarity.all,
    "multimodal" -> graft.queries.Multimodal.all,
    "streaming" -> graft.streaming.Streaming.all)

  val familyNames: Seq[String] = families.map(_._1)

  val byName: Map[String, (String, QueryDef)] =
    families.flatMap { case (f, qs) => qs.map(q => q.name -> (f -> q)) }.toMap

  /** Families whose artifacts are staged into the store before timing,
    * each with the module's own staging entry point.
    */
  val staged: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "text" -> (graft.queries.TextAnalysis.warmStages _),
    "dedup" -> (graft.queries.Dedup.warmStages _),
    "similarity" -> (graft.queries.Similarity.warmStages _),
    "multimodal" -> (graft.queries.Multimodal.warmStages(_, _)))
}

/** `batch_suite`: a fixed list of registered queries, batch and
  * streaming, run in seeded order. An op is `fn(spark, dir)` (build), planning of
  * the returned plan, and `queryExecution.toRdd.count()` (execute); its
  * row count is checked against the expected table, which also names the
  * data set the queries run on. One set-up takes about a minute, so it
  * runs once.
  */
final class Suite(ctx: Ctx, queries: Seq[String], data: String,
    expected: Map[String, Long]) extends Workload {
  import ctx._

  queries.foreach { q =>
    require(Registry.byName.contains(q), s"unknown query $q")
    require(expected.contains(q), s"no expected row count for $q")
  }

  val setupReps = 1
  private var dir: String = _
  private val rng = new scala.util.Random(seed)

  /** Copies the inputs and points the store at an empty directory.
    * A traced run then stages each staged family through the module's
    * staging entry point, one family at a time, so each family's
    * staging time is its own. Every run ends set-up with one untimed
    * pass over the list: it builds whatever the list still needs into
    * the store, and warms the JVM so timed passes do not pay first-touch
    * compilation.
    */
  def setup(rep: Int): Unit = {
    dir = s"$work/suite-$rep/data"
    Files.copyDir(new File(s"$dataRoot/$data"), new File(dir))
    useStore(s"$work/suite-$rep/store")
    if (spans.on) Registry.staged.foreach { case (f, stage) =>
      val t0 = System.nanoTime()
      spans.span(s"stage.$f", "framecache")(stage(spark, dir))
      stageSeconds(f) = (System.nanoTime() - t0) / 1e9
    }
    spans.span("warm-up", "setup")(queries.foreach { name =>
      Registry.byName(name)._2.fn(spark, dir).queryExecution.toRdd.count()
    })
  }

  def pass(p: Int): Unit =
    rng.shuffle(queries).foreach { name =>
      val (family, q) = Registry.byName(name)
      harness.run(p, name, family, "query")(op => runQuery(op, q.fn)) { rows =>
        val want = expected(name)
        if (rows != want) Some(s"rows $rows, expected $want") else None
      }
    }

  private def runQuery(op: Op, fn: (SparkSession, String) => DataFrame): Long = {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    sc.setJobGroup(Listeners.group(op.id, "build"), op.kind)
    val df = spans.span("build", "queries", op.id)(fn(spark, dir))
    val t1 = System.nanoTime()
    sc.setJobGroup(Listeners.group(op.id, "plan"), op.kind)
    spans.span("plan", "catalyst", op.id)(df.queryExecution.executedPlan)
    val t2 = System.nanoTime()
    sc.setJobGroup(Listeners.group(op.id, "execute"), op.kind)
    val rows = spans.span("execute", "exec", op.id)(df.queryExecution.toRdd.count())
    val t3 = System.nanoTime()
    op.buildNs = t1 - t0
    op.planNs = t2 - t1
    op.execNs = t3 - t2
    if (spans.on) listeners.addPhases(df.queryExecution)
    rows
  }

  override def afterTimed(traced: Boolean): Seq[(String, Double)] =
    if (!traced) Nil
    else {
      // the catalog registers every batch query as a view, so it calls
      // every batch query function once; timed once, after the timed region
      val op = harness.newOp(-1, "registerQueryViews", "catalog", "catalog")
      val sc = spark.sparkContext
      sc.setJobGroup(Listeners.group(op.id, "build"), op.kind)
      val t0 = System.nanoTime()
      spans.span("registerQueryViews", "catalog", op.id)(
        graft.GraftCatalog.registerQueryViews(spark, dir))
      val s = (System.nanoTime() - t0) / 1e9
      sc.clearJobGroup()
      listeners.drain()
      val jobs = listeners.jobs.values.count(j =>
        Listeners.parse(j.group).exists(_._1 == op.id))
      Seq("catalog.register_s" -> s, "catalog.register_jobs" -> jobs.toDouble)
    }
}

object Suite {
  /** The suite over the query list in `workloads.json` and the expected
    * row counts in `expected_rows.json`, both in `configDir`.
    */
  def apply(ctx: Ctx, configDir: String): Suite = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val queries = m.readTree(new File(s"$configDir/workloads.json"))
      .path("batch_suite").path("queries").elements().asScala.map(_.asText).toSeq
    val expected = m.readTree(new File(s"$configDir/expected_rows.json"))
    val rows = expected.path("rows").properties().asScala
    new Suite(ctx, queries, expected.path("data").asText,
      rows.map(e => e.getKey -> e.getValue.asLong).toMap)
  }
}

object Files {
  /** Copies a directory tree of regular files. */
  def copyDir(from: File, to: File): Unit = {
    to.mkdirs()
    Option(from.listFiles()).getOrElse(Array.empty).sortBy(_.getName).foreach { f =>
      val target = new File(to, f.getName)
      if (f.isDirectory) copyDir(f, target)
      else java.nio.file.Files.copy(f.toPath, target.toPath)
    }
  }

  def sizeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(sizeBytes).sum
    else if (f.exists) f.length else 0L

  /** Published artifacts in a FrameCache store: entries that carry the
    * store's `_SUCCESS` marker, at any depth.
    */
  def artifacts(dir: File): Int =
    if (!dir.isDirectory) 0
    else Option(dir.listFiles()).getOrElse(Array.empty).map { f =>
      if (!f.isDirectory) 0
      else if (new File(f, "_SUCCESS").exists) 1
      else artifacts(f)
    }.sum
}
