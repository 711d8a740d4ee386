package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.FrameCache

/** A benchmark workload: set-up that can run more than once, and passes
  * of timed ops.
  */
trait Workload {
  /** Work done once before set-up that only the benchmark needs. */
  def prepare(): Unit = ()
  /** How many times set-up runs; the result reports the median. */
  def setupReps: Int
  def setup(rep: Int): Unit
  def pass(p: Int): Unit
  /** Extra per-layer metrics measured after the timed region. */
  def afterTimed(traced: Boolean): Seq[(String, Double)] = Nil
}

/** What every workload shares: the session, the run's directories and
  * the instruments.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val work: String,
    val dataRoot: String) {
  val spans = new Spans
  val listeners = new Listeners(spark)
  val harness = new Harness(this)
  val stageSeconds = mutable.LinkedHashMap.empty[String, Double]
  @volatile var currentStore: Option[String] = None

  /** Points the FrameCache store at `dir`, a directory not yet created. */
  def useStore(dir: String): Unit = {
    spark.conf.set(FrameCache.IndexDirConf, dir)
    currentStore = Some(dir)
  }
}

/** Runs ops: times the call, then checks its answer and the store. */
final class Harness(ctx: Ctx) {
  val ops = mutable.ArrayBuffer.empty[Op]
  var artifactsBuiltInOps = 0
  /** An op slower than this counts as failed (a timeout). */
  val timeoutNs: Long = 60L * 1000000000L

  def newOp(pass: Int, kind: String, family: String, cls: String): Op = {
    val op = new Op(ops.size, pass, kind, family, cls)
    ops += op
    op
  }

  def run[T](pass: Int, kind: String, family: String, cls: String)(call: Op => T)(
      check: T => Option[String]): Op = {
    val op = newOp(pass, kind, family, cls)
    ctx.listeners.currentOp = op.id
    val store = ctx.currentStore.map(new File(_))
    val built0 = FrameCache.diskStats._1
    val arts0 = store.map(Files.artifacts).getOrElse(0)
    op.startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val result = try Some(ctx.spans.span(kind, "op", op.id)(call(op)))
      catch { case e: Throwable =>
        op.fail(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
        None
      }
    op.wallNs = System.nanoTime() - t0
    op.endMs = System.currentTimeMillis()
    ctx.spark.sparkContext.clearJobGroup()
    ctx.listeners.currentOp = -1
    result.foreach(r => check(r).foreach(op.fail))
    if (op.wallNs > timeoutNs) op.fail(s"timeout: ${op.wallNs / 1e9} s")
    // the store's own build counter, and what its directory shows
    val built = math.max(FrameCache.diskStats._1 - built0,
      store.map(Files.artifacts).getOrElse(0) - arts0)
    if (built > 0) {
      artifactsBuiltInOps += built.toInt
      op.fail(s"built $built store artifacts inside a timed op")
    }
    op.error.foreach(e => System.err.println(s"[perfbench] op ${op.id} ${op.kind} FAILED: $e"))
    Box.sample()
    op
  }
}

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    work: String, data: String, config: String, cores: Int, record: Option[String])

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Args(get("workload"), get("seed").toLong, get("seconds").toInt, get("trace") == "1",
      get("work"), get("data"), get("config"), get("cores").toInt, m.get("record"))
  }
}

object Main {
  /** The engine's canonical session, with Spark's temporary and warehouse
    * directories inside the run's work directory.
    */
  def session(cores: String, work: String): SparkSession = {
    val spark = graft.GraftSession.builder(cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    Box.sample()
    val spark = session(a.cores.toString, a.work)
    val sessionS = Box.uptimeMs() / 1000.0
    val ctx = new Ctx(spark, a.seed, a.work, a.data)
    try {
      val workload: Workload = a.workload match {
        case "coord_api" => new CoordApi(ctx)
        case "batch_suite" => Suite(ctx, a.config)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      println(Run(ctx, workload, a, sessionS))
    } finally spark.stop()
  }
}
