package graftbench

import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.Graft
import graft.sources.{DocumentStore, ManifestBackend, ManifestStore}

/** Settings and shared state of one run. */
final class Env(val spark: SparkSession, val work: Path, val seed: Long,
    val seconds: Double, val traced: Boolean, val nproc: Int) {
  val report = new Report
  val tracer = new Tracer(spark.sparkContext, traced)
  private val reqs = new AtomicLong
  def reqId(kind: String): String = s"$kind-${reqs.incrementAndGet()}"

  /** Whether op `i` of a client's sequence is traced. In a traced run
    * about every other op is, picked by frac(i·φ) >= 1/2: the choice keeps
    * in step with no period of the op sequences, so traced and untraced
    * ops see the same mix of requests and the same state of the store.
    * It takes the suite's first measured pass. */
  def tracedOp(i: Long): Boolean = traced && {
    val x = i * 0.6180339887498949
    x - math.floor(x) >= 0.5
  }

  /** Run the measured loop; a run in which no op completed fails. A
    * traced run reports the ratio of its traced to its untraced ops'
    * median latency as the tracing overhead. */
  def measure(loop: Double => (Seq[Op], Double)): (Seq[Op], Double) = {
    val res = loop(seconds)
    if (res._1.isEmpty) report.check("measure", Some("no op completed"))
    if (traced) {
      val (on, off) = res._1.partition(_.traced)
      report.layers("trace.overhead_ratio") =
        (Stats.median(on.map(_.ms)) / Stats.median(off.map(_.ms)), "ratio")
    }
    res
  }
}

/** One timed call (or cycle of calls): its kind, request id, latency,
  * the checks to run on its outputs afterwards (one per facade response)
  * and whether it ran traced. */
final case class Op(kind: String, req: String, ms: Double,
    checks: Seq[() => Option[String]], traced: Boolean = false)

/** Per-request facts a traced run reports beside the spans. */
final case class ReadFacts(segments: Seq[Int], files: Int, rows: Int)

/** The Graft routes as the benchmark calls them. Each route is one span
  * with a child per layer call: `construct` (building the frame: pointer
  * resolve and listing, or the JSON ingest plan), `plan` (forcing the
  * physical plan) and `exec` (the action); a store's segment write and
  * pointer commit is its `commit` child. Untraced, the same calls run
  * with no spans. Each route returns its latency, which covers the route
  * alone: the facts a traced read gathers afterwards fall outside it. */
final class Routes(env: Env) {
  import env.{spark, tracer}

  val readFacts = new ConcurrentHashMap[String, ReadFacts]()
  val storeBytes = new ConcurrentHashMap[String, java.lang.Long]()

  def search(req: String, table: String, colls: Seq[String], multi: Boolean,
      q: Array[Double], k: Int): (Array[Row], Double) = {
    val ((rows, df), ms) = Facade.timed(tracer.span(req, "route") {
      val df = tracer.span(req, "construct") {
        if (multi) Graft.multiSearch(spark, table, q, colls, k)
        else Graft.search(spark, table, q, colls.head, k)
      }
      tracer.span(req, "plan")(df.queryExecution.executedPlan)
      (tracer.span(req, "exec")(df.collect()), df)
    })
    if (tracer.enabled) {
      // a warm re-resolve of each collection's pointer, after the route:
      // the route's own resolve sits inside `construct`
      val segs = tracer.span(req, "resolve")(colls.map(c =>
        ManifestStore.currentSegments(spark, table, c).fold(0)(_.size)))
      readFacts.put(req, ReadFacts(segs, df.inputFiles.length, rows.length))
    }
    (rows, ms)
  }

  def store(req: String, input: String, table: String, userBytes: Long): Double = {
    val ms = Facade.timed(tracer.span(req, "route") {
      val chunks = tracer.span(req, "construct")(
        DocumentStore.flattenChunks(DocumentStore.readStoreRequests(spark, input)))
      tracer.span(req, "commit")(ManifestBackend.store(chunks, table))
    })._2
    if (tracer.enabled) storeBytes.put(req, userBytes)
    ms
  }

  def delete(req: String, table: String, coll: String): Double =
    Facade.timed(tracer.span(req, "route")(tracer.span(req, "delete")(
      Graft.deleteCollection(spark, table, coll))))._2
}

object Facade {
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = f
    (v, (System.nanoTime() - t0) / 1e6)
  }

  /** Vector doubles plus chunk text: the bytes a user asked to store. */
  def userBytes(cs: Iterable[Chunk]): Long =
    cs.iterator.map(c => 8L * c.vec.length + c.text.getBytes("UTF-8").length).sum

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def deleteDir(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }

  /** /store request lines for a set of documents, <= 100 documents each. */
  def requestLines(in: Inputs, coll: String, docs: Seq[Doc]): Iterator[String] =
    docs.grouped(100).map(g => in.requestJson(coll, g))

  /** Ingest `input` (`userBytes` of vectors and text) into `reps` fresh
    * tables; setup_s is the median. A traced run traces these stores:
    * they are the write path's per-layer sample. Returns the tables, the
    * last one to be measured, and the median in seconds. */
  def setupStore(env: Env, routes: Routes, input: String, reps: Int,
      userBytes: Long): (Seq[Path], Double) = {
    val tables = (1 to reps).map(i => env.work.resolve(s"table$i"))
    val secs = tables.map(t => env.tracer.tracing(env.traced)(
      routes.store(env.reqId("store"), input, t.toString, userBytes)) / 1e3)
    env.report.e2e("setup_s") = Stats.median(secs)
    env.report.detail("setup_s") = (Stats.median(secs), "s")
    (tables, Stats.median(secs))
  }

  /** Every op's latency in order, for looking at the distribution. */
  def logOps(env: Env, ops: Seq[Op]): Unit =
    env.report.info("op_ms") = ops.map(o => f"${o.kind}:${o.ms}%.0f").mkString(",")

  def verify(env: Env, ops: Seq[Op]): Unit =
    for (o <- ops; c <- o.checks) env.report.check(s"${o.kind} ${o.req}", c())

  def describe(e: Throwable): String = s"${e.getClass.getName}: ${e.getMessage}"

  /** Per-layer metrics of the traced facade requests. */
  def layerMetrics(env: Env, routes: Routes): Unit = {
    val tr = env.tracer
    tr.drain()
    val spans = tr.allSpans
    val self = tr.selfMs
    val work = tr.listener.snapshot.groupBy(_._1._1).view.mapValues(_.values.toSeq).toMap
    def kindOf(req: String) = req.takeWhile(_ != '-')
    val routeReqs = spans.filter(_.name == "route").map(_.req)
    def reqsOf(kind: String) = routeReqs.filter(kindOf(_) == kind)
    def spanMs(name: String, reqs: Seq[String]) = {
      val rs = reqs.toSet
      spans.filter(s => s.name == name && rs(s.req)).map(_.ms)
    }
    def sum(reqs: Seq[String])(f: Work => Long): Seq[Double] =
      reqs.map(r => work.getOrElse(r, Nil).map(f).sum.toDouble)
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val L = env.report.layers
    val searches = reqsOf("search")
    val multis = reqsOf("multi")
    val reads = searches ++ multis
    val stores = reqsOf("store")
    val facts = reads.flatMap(r => Option(routes.readFacts.get(r)))
    val searchFacts = searches.flatMap(r => Option(routes.readFacts.get(r)))
    L("sources.read.construct_ms") = (Stats.median(spanMs("construct", reads)), "ms")
    L("sources.read.resolve_ms") = (Stats.median(spanMs("resolve", reads)), "ms")
    L("sources.segments_per_collection") =
      (Stats.mean(facts.flatMap(_.segments).map(_.toDouble)), "count")
    L("sources.files_per_search") = (Stats.mean(searchFacts.map(_.files.toDouble)), "count")
    L("plan.search_ms") = (Stats.median(spanMs("plan", searches)), "ms")
    L("plan.multi_search_ms") = (Stats.median(spanMs("plan", multis)), "ms")
    L("exec.search_ms") = (Stats.median(spanMs("exec", searches)), "ms")
    L("exec.multi_search_ms") = (Stats.median(spanMs("exec", multis)), "ms")
    val cpu = sum(searches)(_.cpuNs)
    val scanned = sum(searches)(_.rowsRead).sum
    L("exec.search.task_cpu_ms") = (Stats.mean(cpu) / 1e6, "ms")
    L("exec.search.cpu_ns_per_row") = (ratio(cpu.sum, scanned), "ns/row")
    L("exec.search.rows_per_result") = (ratio(scanned, searchFacts.map(_.rows).sum), "ratio")
    L("exec.jobs_per_request") = (Stats.mean(sum(reads)(_.jobs)), "count")
    L("exec.tasks_per_request") = (Stats.mean(sum(reads)(_.tasks)), "count")
    L("exec.sched_wait_ms") = (Stats.mean(sum(reads)(_.schedWaitMs)), "ms")
    L("exec.gc_ms_per_request") = (Stats.mean(sum(reads)(_.gcMs)), "ms")
    L("sources.store.construct_ms") = (Stats.median(spanMs("construct", stores)), "ms")
    L("sources.store.commit_ms") = (Stats.median(spanMs("commit", stores)), "ms")
    L("sources.store.jobs_per_request") = (Stats.mean(sum(stores)(_.jobs)), "count")
    L("sources.store.task_cpu_ms") = (Stats.mean(sum(stores)(_.cpuNs)) / 1e6, "ms")
    val userB = stores.flatMap(r => Option(routes.storeBytes.get(r))).map(_.toDouble).sum
    L("sources.store.bytes_written_per_user_byte") =
      (ratio(sum(stores)(_.bytesWritten).sum, userB), "ratio")
    L("sources.delete_ms") = (Stats.median(spanMs("delete", reqsOf("delete"))), "ms")
    // what the layer spans leave unexplained inside a route
    L("trace.route_self_ms") =
      (Stats.median(routeReqs.map(r => self.getOrElse((r, "route"), 0.0))), "ms")
    tr.writeSpans(env.work.resolve("spans.jsonl"))
  }
}

/** One client's request stream. The draws that set a request's cost
  * (route, top_k, popularity rank, fan-out) are Weyl sequences
  * frac(offset + i·α) with rationally independent α: they cover their
  * distributions evenly over any prefix, so the cost mix of a short run
  * hardly moves with the seed. The seed sets the offsets, the query
  * vectors and the remaining draws. */
final class Stream(seed: Long) {
  val rr = new SplittableRandom(seed)
  private val alpha = Array(math.sqrt(2) - 1, math.sqrt(3) - 1,
    (math.sqrt(5) - 1) / 2, math.Pi - 3)
  private val offset = Array.fill(alpha.length)(rr.nextDouble())
  private var i = 0L
  def next(): Unit = i += 1
  def index: Long = i
  def u(j: Int): Double = {
    val x = offset(j) + i * alpha(j)
    x - math.floor(x)
  }
}

/** Read serving on a settled store: a closed loop of [[Clients]] client
  * threads, ~80% /search on a Zipf-drawn collection and ~20%
  * /multi_search over 2-8 collections; queries are perturbed stored
  * points and top_k is drawn from {1, 10, 100}. Read-only. */
object ServeZipf {
  val Clients = 2
  val Collections = 10
  val MinChunks = 300
  val MaxChunks = 8000
  /** Size-ladder index (0 = smallest) of each popularity rank. Fixed, so
    * the hot set mixes small and large collections the same way under
    * every seed and the request cost distribution does not drift. */
  val HotOrder = Array(5, 2, 7, 0, 9, 3, 6, 1, 8, 4)
  val ZipfS = 1.1
  /** Warm-up length: requests of the closed loop, and a time cap. */
  val WarmOps = 300
  val WarmMaxSeconds = 40.0
  val TopKs = Array(1, 10, 100)

  private val cdf: Array[Double] = {
    val w = (1 to Collections).map(r => 1.0 / math.pow(r, ZipfS))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  def zipfRank(u: Double): Int = {
    val i = cdf.indexWhere(u < _)
    if (i < 0) Collections - 1 else i
  }

  def run(env: Env): Unit = {
    val in = new Inputs(env.seed)
    val r = new SplittableRandom(env.seed)
    val names = (0 until Collections).map(i => f"c$i%02d")
    val docs: Map[String, IndexedSeq[Doc]] = names.zipWithIndex.map { case (c, i) =>
      val n = math.round(MinChunks * math.pow(MaxChunks.toDouble / MinChunks,
        i.toDouble / (Collections - 1))).toInt
      c -> in.docs(r, c, in.mixture(r), n)
    }.toMap
    val chunks = docs.view.mapValues(_.flatMap(_.chunks)).toMap
    val byRank = HotOrder.map(names)
    val writer = new InputWriter(env.work.resolve("inputs"))
    val input = writer.write(
      names.iterator.flatMap(c => Facade.requestLines(in, c, docs(c))), env.nproc)
    env.report.info("input_fp") = writer.fingerprint
    env.report.info("store_sizes") = names.map(chunks(_).size).mkString(",")
    env.report.info("hot_set") = byRank.take(3).map(c => s"$c:${chunks(c).size}").mkString(",")

    env.report.phase("inputs")
    val routes = new Routes(env)
    val userBytes = Facade.userBytes(chunks.values.flatten)
    val (tables, storeS) = Facade.setupStore(env, routes, input, 3, userBytes)
    val table = tables.last.toString
    // drop the other tables through /delete_collection (traced in a
    // traced run); a search over all collections must then come back empty
    val dq = in.perturb(r, chunks(names.head).head.vec)
    for (t <- tables.init) {
      names.foreach(c => env.tracer.tracing(env.traced)(
        routes.delete(env.reqId("delete"), t.toString, c)))
      val (rows, _) = routes.search(env.reqId("deleted"), t.toString, names,
        multi = true, dq, 10)
      env.report.check(s"search after delete ($t)", Check.topK(Nil, dq, 10, rows))
      Facade.deleteDir(t)
    }
    env.report.phase("setup")

    def once(st: Stream, traced: Boolean): Op = {
      st.next()
      val rr = st.rr
      val multi = st.u(0) < 0.2
      val k = TopKs((st.u(1) * TopKs.length).toInt)
      val first = byRank(zipfRank(st.u(2)))
      val colls =
        if (!multi) Seq(first)
        else {
          val m = 2 + (st.u(3) * 7).toInt
          val s = mutable.LinkedHashSet(first)
          while (s.size < m) s += byRank(zipfRank(rr.nextDouble()))
          s.toSeq
        }
      val from = chunks(colls(rr.nextInt(colls.size)))
      val q = in.perturb(rr, from(rr.nextInt(from.size)).vec)
      val kind = if (multi) "multi" else "search"
      val req = env.reqId(kind)
      val (rows, ms) = env.tracer.tracing(traced)(routes.search(req, table, colls, multi, q, k))
      Op(kind, req, ms, Seq(() => Check.topK(colls.flatMap(chunks), q, k, rows)), traced)
    }

    /** The closed loop: each client runs its stream's requests until the
      * deadline or until `maxOps` requests have completed in all. A
      * request that throws ends its client and fails the run. */
    def clients(streams: Seq[Stream], seconds: Double, maxOps: Int,
        traced: Long => Boolean): (Seq[Op], Double) = {
      val t0 = System.nanoTime()
      val deadline = t0 + (seconds * 1e9).toLong
      val results = new java.util.concurrent.ConcurrentLinkedQueue[Op]()
      val done = new java.util.concurrent.atomic.AtomicInteger
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = streams.map { st =>
        new Thread(() =>
          try {
            while (System.nanoTime() < deadline && done.get < maxOps) {
              results.add(once(st, traced(st.index + 1)))
              done.incrementAndGet()
            }
          } catch { case e: Throwable => errors.add(e) })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      errors.asScala.foreach(e => env.report.check("client", Some(Facade.describe(e))))
      (results.asScala.toSeq, (System.nanoTime() - t0) / 1e9)
    }

    // warm-up (untimed, unchecked): every collection's read path once,
    // then the closed loop itself for WarmOps requests. Latency keeps
    // falling for ~20 s of load while the JIT compiles the read path
    // (construct, plan and exec alike, by about a third), so a shorter
    // warm-up leaves the measured window on that slope, where its
    // median moves with the host's load.
    val wr = new Stream(env.seed ^ 0x77a4L)
    for (c <- names)
      routes.search(env.reqId("warm"), table, Seq(c), multi = false,
        in.perturb(wr.rr, chunks(c).head.vec), 10)
    val (warm, warmS) = clients(
      (0 until Clients).map(c => new Stream((env.seed ^ 0x77a4L) * 1000003L + c)),
      WarmMaxSeconds, WarmOps, _ => false)
    env.report.info("warmup_ops") = warm.size.toString
    env.report.info("warmup_s") = f"$warmS%.1f"
    env.report.phase("warmup")

    val streams = (0 until Clients).map(c => new Stream(env.seed * 1000003L + c))
    def loop(seconds: Double): (Seq[Op], Double) =
      clients(streams, seconds, Int.MaxValue, env.tracedOp)

    val (ops, elapsed) = env.measure(loop)
    env.report.phase("measure")
    Facade.logOps(env, ops)
    Facade.verify(env, ops)
    env.report.phase("check")
    val searches = ops.filter(_.kind == "search").map(_.ms)
    val multis = ops.filter(_.kind == "multi").map(_.ms)
    val D = env.report.detail
    D("serve_qps") = (ops.size / elapsed, "1/s")
    D("search_p50_ms") = (Stats.pct(searches, 50), "ms")
    D("search_p95_ms") = (Stats.pct(searches, 95), "ms")
    D("multi_search_p50_ms") = (Stats.pct(multis, 50), "ms")
    D("multi_search_p95_ms") = (Stats.pct(multis, 95), "ms")
    D("n_search") = (searches.size.toDouble, "count")
    D("n_multi_search") = (multis.size.toDouble, "count")
    // the write path, from the set-up ingests
    D("ingest_chunks_per_s") = (chunks.values.map(_.size).sum / storeS, "1/s")
    D("space_amp") = (Facade.dirBytes(Paths.get(table)).toDouble / userBytes, "ratio")
    env.report.e2e("latency_p50_ms") = Stats.pct(ops.map(_.ms), 50)
    env.report.e2e("throughput_per_s") = ops.size / elapsed
    if (env.traced) Facade.layerMetrics(env, routes)
  }
}
