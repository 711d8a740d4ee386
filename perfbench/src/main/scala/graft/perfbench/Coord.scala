package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.functions.{col, unix_micros}

import graft.api.{CoordinationApi, GraftPluginLocator, ListenerRegistry,
  StorageMutationListener, ValueChangeListener}

/** One changelog event, as the model folds it. */
final case class Ev(us: Long, id: Long, value: Option[Double])

/** An in-process fold of the benchmark's own copy of the changelog. It
  * answers every read the API serves, from the events the benchmark
  * loaded and the writes it made, with the semantics the API documents.
  * Checks against it run outside the timed calls.
  */
final class Model(ttlUs: Long) {
  private val byKey = mutable.HashMap.empty[(String, Long), mutable.ArrayBuffer[Ev]]
  var logEnd = Long.MinValue
  var maxId = 0L

  def add(ns: String, key: Long, e: Ev): Unit = {
    val evs = byKey.getOrElseUpdate((ns, key), mutable.ArrayBuffer.empty)
    evs += e
    if (evs.size > 1 && order(evs(evs.size - 2), e) > 0) {
      val sorted = evs.sortWith((a, b) => order(a, b) < 0)
      evs.clear(); evs ++= sorted
    }
    logEnd = math.max(logEnd, e.us)
    maxId = math.max(maxId, e.id)
  }

  private def order(a: Ev, b: Ev): Int =
    if (a.us != b.us) java.lang.Long.compare(a.us, b.us)
    else java.lang.Long.compare(a.id, b.id)

  private def events(ns: String, key: Long): Seq[Ev] =
    byKey.getOrElse((ns, key), mutable.ArrayBuffer.empty[Ev]).toSeq

  def keys(ns: String): Seq[Long] =
    byKey.keys.collect { case (n, k) if n == ns => k }.toSeq.sorted

  def namespaces: Seq[String] = byKey.keys.map(_._1).toSeq.distinct.sorted

  /** The op digit of the payload convention: round(value*100) % 10,
    * HALF_UP on the double, with non-ANSI cast values for non-finite
    * payloads.
    */
  private def op10(v: Double): Long =
    if (v.isNaN) 0L
    else if (v * 100 >= Long.MaxValue.toDouble) Long.MaxValue % 10
    else if (v * 100 <= Long.MinValue.toDouble) Long.MinValue % 10
    else BigDecimal(v * 100).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong % 10

  def fetch(ns: String, key: Long): Option[Double] = events(ns, key).lastOption.flatMap(_.value)
  def firstWrite(ns: String, key: Long): Option[Double] = events(ns, key).headOption.flatMap(_.value)

  def fetchCas(ns: String, key: Long): Option[Double] = {
    var present = false
    var value = 0.0
    events(ns, key).foreach(_.value.foreach { v =>
      op10(v) match {
        case 0 => present = false
        case o if o <= 3 => present = true; value = v
        case _ if present => value = v
        case _ => ()
      }
    })
    if (present) Some(value) else None
  }

  def snapshotCasCount(ns: String): Long = keys(ns).count(k => fetchCas(ns, k).isDefined).toLong
  def keySetCount(ns: String): Long = keys(ns).size.toLong

  private def alive(ns: String, key: Long): Boolean =
    events(ns, key).lastOption.exists(_.us >= logEnd - ttlUs)

  def isMember(ns: String, key: Long): Boolean = alive(ns, key)
  def membershipCount(ns: String): Long = keys(ns).count(alive(ns, _)).toLong

  /** getLeader: per candidate, heartbeat sessions split at gaps above
    * the TTL (and, resign-aware, after a delete); among sessions that
    * end within the TTL of log end (and did not end in a delete), the
    * earliest start wins, ties to the lower candidate id. Returns the
    * leader and the payload of its session's last event.
    */
  def leader(ns: String, resignAware: Boolean): Option[(Long, Option[Double])] = {
    def del(e: Ev): Boolean = e.value.exists(v => op10(v) == 0)
    val live = keys(ns).flatMap { k =>
      val evs = events(ns, k)
      // the last session: walk back while the gap stays within the TTL
      var i = evs.size - 1
      while (i > 0 && evs(i).us - evs(i - 1).us <= ttlUs &&
        !(resignAware && del(evs(i - 1)))) i -= 1
      val last = evs.last
      val resigned = resignAware && del(last)
      if (last.us >= logEnd - ttlUs && !resigned) Some((evs(i).us, k, last.value))
      else None
    }
    live.sortBy(t => (t._1, t._2)).headOption.map(t => (t._2, t._3))
  }

  /** Rows the value-change feed holds for a key: the first sighting and
    * every event whose value differs from the previous one (a null
    * previous value counts as a first sighting).
    */
  def valueChanges(ns: String, key: Long): Long = {
    var prev: Option[Double] = None
    var n = 0L
    events(ns, key).foreach { e =>
      if (prev.isEmpty || e.value.exists(_ != prev.get)) n += 1
      prev = e.value
    }
    n
  }

  /** Rows the applied-mutation feed holds for a key: every put, and any
    * event after a boundary (the last put or delete) that is a put.
    */
  def mutations(ns: String, key: Long): Long = {
    var boundary: Option[Long] = None
    var n = 0L
    events(ns, key).foreach { e =>
      val op = e.value.map(op10)
      val isPut = op.exists(o => o != 0 && o <= 3)
      if (isPut || boundary.exists(_ != 0)) n += 1
      op.filter(_ <= 3).foreach(o => boundary = Some(o))
    }
    n
  }
}

object CoordApi {
  val reads: Seq[String] = Seq("fetch", "firstWrite", "fetchCas", "isMember", "getLeader",
    "getLeaderResignAware", "membershipList", "keySet", "snapshotCas")
  val writes: Seq[String] = Seq("append_put", "append_update", "append_delete",
    "joinGroup", "leaveGroup")
  /** Every call kind, as the per-layer metrics name them. */
  val kinds: Seq[String] = reads ++ writes :+ "replay"
}

/** `coord_api`: one client in a closed loop over the broker-facing API,
  * against a private writable copy of the sf0.1 changelog. The seed
  * orders each pass's calls and draws their namespaces and Zipf-skewed
  * keys. A pass calls every read kind twice, every write kind once and
  * one listener replay: a fixed mix keeps passes of different seeds
  * comparable. Set-up is a few seconds, so it runs three times.
  */
final class CoordApi(ctx: Ctx) extends Workload {
  import ctx._
  import CoordApi._

  private val dataDir = s"$dataRoot/sf0.1"
  val setupReps = 3

  private val ttlUs = graft.queries.Coordination.DefaultTtlMicros
  private val rng = new scala.util.Random(seed)
  private var dir: String = _
  private var api: CoordinationApi = _
  private var registry: ListenerRegistry = _
  private var model: Model = _
  private var nextTs = 0L
  private var appendBytes0 = 0L
  var appends = 0

  private def changelog = new File(s"$dir/events.parquet")

  /** The changelog the model starts from; loaded once, before set-up. */
  private def baseEvents: Array[(String, Long, Ev)] =
    spark.read.parquet(s"$dataDir/events.parquet")
      .transform(graft.Tables.withMicroTs)
      .select(col("event_type"), col("user_id"), unix_micros(col("ts")),
        col("event_id"), col("value"))
      .collect().map { r =>
        (r.getString(0), r.getLong(1),
          Ev(r.getLong(2), r.getLong(3), if (r.isNullAt(4)) None else Some(r.getDouble(4))))
      }

  override def prepare(): Unit = {
    model = new Model(ttlUs)
    baseEvents.foreach { case (ns, k, e) => model.add(ns, k, e) }
    nextTs = model.logEnd + 1000000L
  }

  def setup(rep: Int): Unit = {
    dir = s"$work/coord-$rep"
    // an empty store of its own, never a shared one
    useStore(s"$work/coord-$rep-store")
    changelog.mkdirs()
    java.nio.file.Files.copy(new File(s"$dataDir/events.parquet").toPath,
      new File(changelog, "part-00000-base.parquet").toPath)
    val props = new File(s"$work/coord-$rep.properties")
    java.nio.file.Files.writeString(props.toPath, s"graft.data.dir=$dir\n")
    val locator = new GraftPluginLocator(spark)
    locator.startup(props.getPath)
    api = locator.getLeaderElection
    registry = locator.getListenerRegistry
    // warm-up: one read of each shape, so the first timed call does not
    // pay first-touch planning and code generation
    val ns = model.namespaces.head
    val k = model.keys(ns).head
    api.fetch(ns, k)
    api.fetchCas(ns, k)
    api.isMember(ns, k)
    api.getLeader(ns)
    api.keySet(ns).count()
    appendBytes0 = Files.sizeBytes(changelog)
  }

  private lazy val namespaces = model.namespaces
  private lazy val zipf: Map[String, Zipf] = namespaces.map { ns =>
    ns -> new Zipf(rng.shuffle(model.keys(ns)).toIndexedSeq, 1.0)
  }.toMap

  /** One pass: the fixed mix of calls, in seeded order on seeded Zipf keys. */
  def pass(p: Int): Unit = {
    val mix = rng.shuffle(reads.flatMap(Seq.fill(2)(_)) ++ writes :+ "replay")
    mix.foreach { kind =>
      val ns = namespaces(rng.nextInt(namespaces.size))
      val key = zipf(ns).draw(rng)
      if (reads.contains(kind)) read(p, kind, ns, key)
      else if (writes.contains(kind)) write(p, kind, ns, key)
      else replay(p, ns, key)
    }
  }

  private def same[T](got: T, want: T): Option[String] =
    if (got == want) None else Some(s"got $got, expected $want")

  private def read(p: Int, kind: String, ns: String, key: Long): Unit = kind match {
    case "fetch" => call(p, kind, "read")(api.fetch(ns, key))(same(_, model.fetch(ns, key)))
    case "firstWrite" =>
      call(p, kind, "read")(api.firstWrite(ns, key))(same(_, model.firstWrite(ns, key)))
    case "fetchCas" =>
      call(p, kind, "read")(api.fetchCas(ns, key))(same(_, model.fetchCas(ns, key)))
    case "isMember" =>
      call(p, kind, "read")(api.isMember(ns, key))(same(_, model.isMember(ns, key)))
    case "getLeader" =>
      call(p, kind, "read")(api.getLeader(ns))(same(_, model.leader(ns, resignAware = false)))
    case "getLeaderResignAware" =>
      call(p, kind, "read")(api.getLeaderResignAware(ns))(
        same(_, model.leader(ns, resignAware = true)))
    case "membershipList" =>
      call(p, kind, "read")(api.membershipList(ns).count())(same(_, model.membershipCount(ns)))
    case "keySet" =>
      call(p, kind, "read")(api.keySet(ns).count())(same(_, model.keySetCount(ns)))
    case "snapshotCas" =>
      call(p, kind, "read")(api.snapshotCas(ns).count())(same(_, model.snapshotCasCount(ns)))
  }

  private def write(p: Int, kind: String, ns: String, key: Long): Unit = {
    val ts = nextTs
    nextTs += 1000000L
    val value = math.round(rng.nextDouble() * 100000) / 100.0
    val (op, v) = kind match {
      case "append_put" | "joinGroup" => ("put", value)
      case "append_update" => ("update", value)
      case _ => ("delete", 0.0)
    }
    val stamp = new java.sql.Timestamp(ts / 1000L)
    stamp.setNanos(((ts % 1000000L) * 1000L).toInt)
    call(p, kind, "write") {
      kind match {
        case "joinGroup" => api.joinGroup(ns, key, v, stamp)
        case "leaveGroup" => api.leaveGroup(ns, key, stamp)
        case _ => api.append(ns, key, op, v, stamp)
      }
    } { id =>
      // event ids continue the log's: each append takes the next one
      val want = model.maxId + 1
      model.add(ns, key, Ev(ts, id, Some(payload(op, v))))
      appends += 1
      same(id, want)
    }
  }

  /** The payload append writes: the cents digit forced to the op's. */
  private def payload(op: String, value: Double): Double = {
    val digit = op match { case "put" => 1L; case "update" => 4L; case _ => 0L }
    val cents0 = math.round(value * 100)
    (cents0 - (((cents0 % 10) + 10) % 10) + digit) / 100.0
  }

  private def replay(p: Int, ns: String, key: Long): Unit = {
    var fired = 0L
    if (rng.nextBoolean()) {
      val l = new ValueChangeListener { def valueChanged(v: Option[Double]): Unit = fired += 1 }
      registry.addValueChangeListener(ns, key, l)
      try call(p, "replay", "replay")(registry.replayValueChanges(ns)) { n =>
        same((n, fired), (model.valueChanges(ns, key), model.valueChanges(ns, key)))
      } finally registry.removeValueChangeListener(ns, key, l)
    } else {
      val l = new StorageMutationListener {
        def onMutation(op: String, v: Option[Double]): Unit = fired += 1
      }
      registry.addStorageMutationListener(ns, key, l)
      try call(p, "replay", "replay")(registry.replayStorageMutations(ns)) { n =>
        same((n, fired), (model.mutations(ns, key), model.mutations(ns, key)))
      } finally registry.removeStorageMutationListener(ns, key, l)
    }
  }

  private def call[T](p: Int, kind: String, cls: String)(body: => T)(
      check: T => Option[String]): Unit =
    harness.run(p, kind, "coordination", cls) { op =>
      spark.sparkContext.setJobGroup(Listeners.group(op.id, "call"), kind)
      spans.span(kind, "api", op.id)(body)
    }(check)

  /** Part files of the changelog, and bytes the timed appends added. */
  def changelogFiles: Int =
    Option(changelog.listFiles()).getOrElse(Array.empty)
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
  def bytesPerAppend: Double =
    if (appends == 0) 0.0 else (Files.sizeBytes(changelog) - appendBytes0).toDouble / appends
}

/** Zipf-distributed draws over a fixed sequence of items. */
final class Zipf(items: IndexedSeq[Long], s: Double) {
  private val cdf = {
    val w = items.indices.map(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }
  def draw(rng: scala.util.Random): Long = {
    val u = rng.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    items(math.min(if (i >= 0) i else -i - 1, items.size - 1))
  }
}
