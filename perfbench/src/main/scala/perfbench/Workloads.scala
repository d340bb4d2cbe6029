package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.api.{IndexLifecycle, SearchApi}
import graft.schema.{Space, SpaceCatalog}

/** What a workload needs from the run: the session, the seeded inputs,
  * the measuring window, the report, and the trace when the run is traced.
  */
final class Ctx(val spark: SparkSession, val gen: Gen, val seconds: Int,
    val trace: Option[Trace], val workDir: File, val report: Report, val cores: Int) {

  def request[T](name: String)(f: Long => T): T =
    trace.map(_.request(name)(f)).getOrElse(f(-1L))

  def span[T](req: Long, name: String)(f: => T): T =
    trace.map(_.span(req, name)(f)).getOrElse(f)

  def put(name: String, value: Double, unit: String): Unit = report.put(name, value, unit)
}

object Loop {
  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Progress on stderr, stamped with seconds since the JVM started. */
  def log(msg: String): Unit =
    System.err.println(f"perfbench: [${(System.currentTimeMillis() - jvmStart) / 1000.0}%6.1f s] $msg")

  /** A timed closed loop: one client sends the next request once the last
    * one has returned, until the window closes. Returns the number of
    * requests and the window's wall time in ms.
    */
  def closed(seconds: Int)(one: Int => Unit): (Int, Double) = {
    log(s"window opens for $seconds s")
    val t0 = System.nanoTime()
    val deadline = t0 + seconds * 1000000000L
    var i = 0
    while (System.nanoTime() < deadline) { one(i); i += 1 }
    (i, (System.nanoTime() - t0) / 1e6)
  }

  def ms[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }
}

/** The shared shape of both workloads: a space in a catalog, set up
  * [[SearchWorkload.SetupReps]] times, warmed up, then searched by one
  * closed-loop client. Every answer is checked against the benchmark's
  * own exact top-10 after the window closes, so the window times the
  * engine alone.
  */
abstract class SearchWorkload(ctx: Ctx) {
  protected val spark: SparkSession = ctx.spark
  protected val root: String = new File(ctx.workDir, "spaces").getAbsolutePath
  protected val cat = new SpaceCatalog(spark, root)
  protected val Limit = 10

  protected def space: Space
  protected def spaceName: String = space.name
  protected def vectorsPerRequest: Int
  /** Requests before the window; the last ones of the pool are used. */
  protected def warmups: Int
  /** Generates, loads and builds into `db`; returns (load ms, build ms). */
  protected def setupOnce(db: String): (Double, Double)
  /** The request JSON of request `i`. */
  protected def requestJson(i: Int): String
  /** Request `json` through the workload's public entry point, up to the
    * returned DataFrame.
    */
  protected def plan(db: String, json: String): DataFrame
  /** Checks the rows answering request `i`. */
  protected def verify(i: Int, rows: Array[Row]): Seq[(Boolean, String)]

  private var recallSum = 0.0
  private var recallN = 0

  /** Checks one query's rows against the exact top-10 and counts its recall. */
  protected def checkTopK(got: Seq[(Int, Double)], truth: Seq[(Int, Double)],
      q: Array[Float], row: Int => Array[Float]): Seq[(Boolean, String)] = {
    recallSum += got.map(_._1).toSet.intersect(truth.map(_._1).toSet).size.toDouble / truth.size
    recallN += 1
    Seq(
      (got.size == truth.size, s"${got.size} rows, want ${truth.size}"),
      (got.map(_._2) == got.map(_._2).sorted, "scores out of order"),
      (got.forall { case (d, s) => math.abs(s - Truth.l2(row(d), q)) <= 1e-9 * math.max(1.0, s) },
        "a score is not the row's L2 distance"))
  }

  def run(): Unit = {
    val setups = (0 until SearchWorkload.SetupReps).map { rep =>
      if (rep > 0) cat.dropSpace(s"db${rep - 1}", spaceName)
      val (r, total) = Loop.ms(setupOnce(s"db$rep"))
      Loop.log(f"set-up ${rep + 1} of ${SearchWorkload.SetupReps}: $total%.0f ms (load ${r._1}%.0f ms, build ${r._2}%.0f ms)")
      (total, r._1, r._2)
    }
    val db = s"db${SearchWorkload.SetupReps - 1}"
    ctx.put("setup_s", Stats.median(setups.map(_._1)) / 1000, "s")
    ctx.put("schema.load_s", Stats.median(setups.map(_._2)) / 1000, "s")
    ctx.put("operators.index_build_s", Stats.median(setups.map(_._3)) / 1000, "s")

    (1 to warmups).foreach(k => plan(db, requestJson(SearchWorkload.Pool - k)).collect())
    val done = ArrayBuffer.empty[(Int, Array[Row], Double)]
    val gc0 = SearchWorkload.gcMs()
    val (n, wall) = Loop.closed(ctx.seconds) { i =>
      val js = requestJson(i)
      ctx.report.attempt(s"request $i")(timedSearch(js)(plan(db, js)))
        .foreach { case (rows, ms) => done += ((i, rows, ms)) }
    }
    val gc = SearchWorkload.gcMs() - gc0
    done.foreach { case (i, rows, _) => ctx.report.verify(s"request $i", verify(i, rows)) }
    if (done.isEmpty) throw new IllegalStateException("no request succeeded in the window")

    val lat = done.map(_._3).toSeq
    ctx.put("search_p50_ms", Stats.median(lat), "ms")
    Stats.highestSupported(lat.size).filter(_ > 50).foreach { p =>
      ctx.put(f"search_p$p%.0f_ms", Stats.percentile(lat, p), "ms")
    }
    if (!Stats.supports(lat.size, 90))
      ctx.report.notes += s"search_p90_ms not reported: ${lat.size} requests, p90 needs 100"
    ctx.put("search_requests", lat.size.toDouble, "count")
    ctx.put("query_vectors_per_s", lat.size * vectorsPerRequest / (wall / 1000), "1/s")
    ctx.put("recall_at_10", recallSum / math.max(recallN, 1), "ratio")
    ctx.put("jvm.gc_ms_per_request", gc.toDouble / math.max(n, 1), "ms")
    val path = s"$root/$db/$spaceName"
    ctx.put("schema.files_in_space", SearchWorkload.parquetFiles(new File(path)).toDouble, "count")
    ctx.put("sources.open_table_ms", Stats.median((0 until 5).map(_ =>
      Loop.ms(graft.sources.IndexStore.openTable(spark, path))._2)), "ms")
    ctx.trace.foreach(SearchWorkload.fromTrace(ctx, _))
  }

  /** Runs one search request as spans around the public calls: parse
    * (traced runs only), plan (until the DataFrame is returned) and
    * collect. Returns the rows and the latency in ms.
    */
  private def timedSearch(json: String)(plan: => DataFrame): (Array[Row], Double) = {
    val t0 = System.nanoTime()
    val rows = ctx.request("search") { id =>
      if (ctx.trace.isDefined) ctx.span(id, "api.parse")(SearchApi.parseSearch(json, space))
      val df = ctx.span(id, "api.plan")(plan)
      ctx.span(id, "api.collect")(df.collect())
    }
    (rows, (System.nanoTime() - t0) / 1e6)
  }
}

object SearchWorkload {
  val Names: Seq[String] = Seq("search-routed", "search-exact-batch")

  /** Set-up runs this many times per run, each into a fresh database;
    * `setup_s` is the session start plus the median of the copies (the
    * first is cold, the second warm), and the last copy is the one
    * measured. A third copy would cost 4–7 s per run, which the run
    * budget does not hold.
    */
  val SetupReps = 2

  /** Generated requests per run; request `i` is pool entry `i % Pool`. */
  val Pool = 1024

  def apply(name: String, ctx: Ctx): SearchWorkload = name match {
    case "search-routed"      => new Routed(ctx)
    case "search-exact-batch" => new ExactBatch(ctx)
  }

  def vecJson(vs: Seq[Array[Float]]): String =
    vs.iterator.flatMap(_.iterator).map(java.lang.Float.toString).mkString("[", ",", "]")

  def parquetFiles(f: File): Int =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(parquetFiles).sum
    else if (f.getName.endsWith(".parquet")) 1 else 0

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum
  }

  /** The api, driver and stage layers per search request, from the trace,
    * and the reconciliation check on each request.
    */
  def fromTrace(ctx: Ctx, t: Trace): Unit = {
    t.drain()
    val reqs = t.requests("search")
    val n = math.max(reqs.size, 1).toDouble
    def med(name: String) = {
      val xs = t.childSpans(name).map(_.ms)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    ctx.put("api.parse_ms", med("api.parse"), "ms")
    ctx.put("api.plan_ms", med("api.plan"), "ms")
    ctx.put("api.collect_ms", med("api.collect"), "ms")

    var jobs, planJobs, stages, tasks, gap, exec, input, shR, shW, spill = 0.0
    var excess = 0.0
    reqs.foreach { r =>
      val js = t.jobsOf(r.req)
      val iv = js.map(j => (j.start, j.end))
      val plan = t.childSpans("api.plan").find(_.req == r.req)
      jobs += js.size
      planJobs += plan.map(p => js.count(j => j.start <= p.end)).getOrElse(0)
      gap += Stats.gap(r.start, r.end, iv)
      val err = Stats.reconcileErrorMs(r.start, r.end, iv)
      excess = math.max(excess, err - Stats.toleranceMs(r.ms))
      ctx.report.attempt(s"trace reconciliation of request ${r.req}")(())
      ctx.report.verify(s"trace reconciliation of request ${r.req}", Seq((Stats.reconciles(r.start, r.end, iv),
        f"job time + driver gap is $err%.1f ms off its ${r.ms}%.1f ms wall time")))
      t.stagesOf(r.req).foreach { s =>
        stages += 1; tasks += s.tasks; exec += s.execMs; input += s.inputBytes
        shR += s.shuffleReadBytes; shW += s.shuffleWriteBytes; spill += s.spillBytes
      }
    }
    ctx.put("driver.jobs_per_request", jobs / n, "count")
    ctx.put("driver.plan_jobs_per_request", planJobs / n, "count")
    ctx.put("driver.stages_per_request", stages / n, "count")
    ctx.put("driver.tasks_per_request", tasks / n, "count")
    ctx.put("driver.gap_ms_per_request", gap / n, "ms")
    ctx.put("stage.exec_ms_per_request", exec / n, "ms")
    ctx.put("stage.core_utilization", Stats.coreUtilization(exec, reqs.map(_.ms).sum, ctx.cores), "ratio")
    ctx.put("stage.input_bytes_per_request", input / n, "bytes")
    ctx.put("stage.shuffle_read_bytes_per_request", shR / n, "bytes")
    ctx.put("stage.shuffle_write_bytes_per_request", shW / n, "bytes")
    ctx.put("stage.spill_bytes_per_request", spill / n, "bytes")
    ctx.put("trace.request_p50_ms", if (reqs.isEmpty) 0.0 else Stats.percentile(reqs.map(_.ms), 50), "ms")
    ctx.put("trace.reconcile_excess_ms", math.max(excess, 0.0), "ms")
  }
}

/** `search-routed`: a string-PK space declaring HNSW over 64-d vectors
  * from a 32-cluster Gaussian mixture, with an integer scalar field,
  * searched through [[SpaceCatalog.search]] one vector at a time; half
  * the requests carry a range filter of random selectivity.
  */
final class Routed(ctx: Ctx) extends SearchWorkload(ctx) {
  private val N = 20000
  private val Dim = 64
  private val StarsBound = 1000
  import SearchWorkload.Pool
  protected val vectorsPerRequest = 1
  // the driver-side planning code takes several requests to reach its
  // compiled speed; a shorter warm-up leaves a downward drift in the window
  protected val warmups = 12
  protected val space: Space = Space.fromJson(
    s"""{"name":"routed","partition_num":4,"fields":[
       {"name":"stars","type":"integer","index":{"type":"SCALAR"}},
       {"name":"vec","type":"vector","dimension":$Dim,
        "index":{"type":"HNSW","params":{"nlinks":16,"efConstruction":40,"efSearch":64}}}]}""")
  private val schema = StructType(Seq(StructField("_id", StringType, nullable = false),
    StructField("stars", IntegerType), StructField("vec", ArrayType(FloatType))))

  private var vecs: Array[Array[Float]] = _
  private var stars: Array[Int] = _

  protected def setupOnce(db: String): (Double, Double) = {
    vecs = ctx.gen.mixture("routed.corpus", N, Dim, 32)
    stars = ctx.gen.ints("routed.stars", N, StarsBound)
    val (v, s) = (vecs, stars)
    cat.createDb(db)
    val (_, loadMs) = Loop.ms {
      cat.createSpace(db, space)
      val rdd = spark.sparkContext.parallelize(0 until N, ctx.cores)
        .map(i => Row(s"d-$i", s(i), v(i).toSeq))
      cat.upsert(db, spaceName, spark.createDataFrame(rdd, schema), partitionNum = 4)
    }
    val (_, buildMs) = Loop.ms {
      new IndexLifecycle(spark, s"$root/$db/$spaceName")
        .rebuildDeclared(space, "vec", idCol = "_docid", numShards = 4)
    }
    (loadMs, buildMs)
  }

  private lazy val queries = ctx.gen.queriesNear("routed.queries", vecs, Pool)
  private lazy val filters = ctx.gen.rangeFilters("routed.filters", Pool, StarsBound)

  protected def requestJson(i: Int): String = {
    val f = filters(i % Pool).map { case (lo, hi) =>
      s""","filters":{"operator":"AND","conditions":[
         {"operator":">=","field":"stars","value":$lo},
         {"operator":"<","field":"stars","value":$hi}]}"""
    }.getOrElse("")
    s"""{"vectors":[{"field":"vec","feature":${SearchWorkload.vecJson(Seq(queries(i % Pool)))}}],"limit":$Limit$f}"""
  }

  protected def plan(db: String, json: String): DataFrame = cat.search(db, spaceName, space, json)

  protected def verify(i: Int, rows: Array[Row]): Seq[(Boolean, String)] = {
    val q = queries(i % Pool)
    val keep: Int => Boolean = filters(i % Pool) match {
      case Some((lo, hi)) => d => stars(d) >= lo && stars(d) < hi
      case None => _ => true
    }
    val got = rows.toSeq.map(r =>
      (r.getAs[String]("_id").stripPrefix("d-").toInt, r.getAs[Double]("_score")))
    checkTopK(got, Truth.topK(vecs, q, Limit, keep).toSeq, q, vecs) :+
      ((got.forall(g => keep(g._1)), "a row is outside the filter"))
  }
}

/** `search-exact-batch`: a FLAT space held in executor memory (the view
  * the catalog caches for a `cache_size` space), searched through
  * [[SearchApi.search]] with 16 query vectors per request and no filter;
  * each query's top-10 must equal plain-Scala brute force, with any
  * choice among rows tied at the boundary score.
  */
final class ExactBatch(ctx: Ctx) extends SearchWorkload(ctx) {
  private val N = ExactBatch.N
  private val Dim = 128
  private val Batch = 16
  import SearchWorkload.Pool
  protected val vectorsPerRequest: Int = Batch
  protected val warmups = 4
  protected val space: Space = Space.fromJson(
    s"""{"name":"exact","partition_num":4,"cache_size":1024,"fields":[
       {"name":"vec","type":"vector","dimension":$Dim,"index":{"type":"FLAT"}}]}""")
  private val schema = StructType(Seq(StructField("_id", StringType, nullable = false),
    StructField("vec", ArrayType(FloatType))))

  private var corpus: Array[Array[Float]] = _

  protected def setupOnce(db: String): (Double, Double) = {
    corpus = ctx.gen.mixture("exact.corpus", N, Dim, 32)
    val c = corpus
    cat.createDb(db)
    val (_, loadMs) = Loop.ms {
      cat.createSpace(db, space)
      val rdd = spark.sparkContext.parallelize(0 until N, ctx.cores).map(i => Row(s"e-$i", c(i).toSeq))
      cat.upsert(db, spaceName, spark.createDataFrame(rdd, schema), partitionNum = 4)
      spark.table(s"${db}__$spaceName").count() // materializes the cached view
    }
    (loadMs, 0.0)
  }

  // 64 batches of 16 queries; request i sends batch i % 64
  private lazy val batches =
    ctx.gen.queriesNear("exact.queries", corpus, 64 * Batch).grouped(Batch).toArray
  private def batch(i: Int) = batches(i % batches.length)

  protected def requestJson(i: Int): String =
    s"""{"vectors":[{"field":"vec","feature":${SearchWorkload.vecJson(batch(i).toSeq)}}],"limit":$Limit}"""

  // the catalog's cached view; SpaceCatalog.search would read parquet
  protected def plan(db: String, json: String): DataFrame =
    SearchApi.search(spark.table(s"${db}__$spaceName"), space, json)

  protected def verify(i: Int, rows: Array[Row]): Seq[(Boolean, String)] = {
    val b = batch(i)
    val byQ = rows.groupBy(_.getAs[Number]("_qid").intValue)
    (0 until Batch).flatMap { qi =>
      val got = byQ.getOrElse(qi, Array.empty[Row]).toSeq
        .map(r => (r.getAs[String]("_id").stripPrefix("e-").toInt, r.getAs[Double]("_score")))
      val truth = Truth.topK(corpus, b(qi), Limit).toSeq
      checkTopK(got, truth, b(qi), corpus) :+
        ((Truth.sameTopK(got, truth), s"query $qi differs from brute-force top-$Limit"))
    } :+ ((byQ.size == Batch, s"${byQ.size} result blocks, want $Batch"))
  }
}

object ExactBatch {
  /** Corpus size. At the design size of 200k one request took about 2 s,
    * too few requests for a run, so it was halved twice.
    */
  val N: Int = 50000
}
