package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Runs one workload in this JVM: builds the session, generates the
  * seeded inputs, sets up (warm-up and a priming pass), then runs a fixed
  * number of passes over the workload's queries and prints the metrics.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --root DIR --expected FILE
  */
object Main {

  private final case class Opts(workload: String, seed: Long, seconds: Int,
      trace: Boolean, root: File, expected: File)

  /** One timed execution of a query. */
  private final case class Exec(pass: Int, query: String, buildS: Double,
      actionS: Double, fingerprint: String, error: Option[String],
      rddsLeft: Long, bytesLeft: Long, cacheEntriesLeft: Long) {
    def latencyS: Double = buildS + actionS
  }

  private def now: Long = System.nanoTime()
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", new File(need("root")), new File(need("expected")))
  }

  private def session(wl: Workload, work: File): SparkSession = {
    val b = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-${wl.name}")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
    wl.spillRecords.foreach(n => b.config("spark.shuffle.spill.numElementsForceSpillThreshold", n.toString))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Operator and codegen warm-up on synthetic data (as graft.Bench does). */
  private def warmUp(spark: SparkSession): Unit = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.sql(
      """SELECT r, count(*) FROM (
        |  SELECT id, row_number() OVER (PARTITION BY id % 7 ORDER BY id) AS r,
        |         explode(array(id, id + 1)) AS e
        |  FROM range(10000)) t
        |JOIN (SELECT id AS j FROM range(1000)) u ON t.id = u.j
        |GROUP BY r""".stripMargin).collect()
  }

  private def loadExpected(f: File, wl: String): Map[String, String] =
    if (!f.isFile) Map.empty
    else scala.io.Source.fromFile(f, "UTF-8").getLines()
      .map(_.split("\t")).collect { case Array(w, q, fp) if w == wl => q -> fp }.toMap

  /** Keeps the `keep` most recently used generated datasets under `root`. */
  private def evict(root: File, keep: Int): Unit =
    Option(root.listFiles()).toSeq.flatten.filter(_.isDirectory)
      .sortBy(-_.lastModified()).drop(keep).foreach(d => Gen.deleteTree(d.toPath))

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  private def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
    case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  }

  private def gcSeconds: Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0
  }

  /** Heap in use after full collections: the least of five readings.
    * Spark's ContextCleaner frees the blocks of unreachable broadcasts and
    * shuffles only after a collection has enqueued them, so one reading
    * can still hold garbage; blocks the engine left persisted stay in all
    * five. */
  private def heapAfterGcMb(): Double =
    (1 to 5).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

  private def processCpuS: Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val wl = Workloads(o.workload)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val work = new File(o.root, ".bench_work")
    val dataRoot = new File(o.root, ".bench_data")

    // -- set-up: session, inputs (timed apart), warm-up, priming ----------
    val spark = session(wl, work)
    val genT0 = now
    val dataDir = new File(dataRoot, s"v${Gen.Version}-${wl.scale.tag}-s${o.seed}")
    dataDir.mkdirs()
    dataDir.setLastModified(System.currentTimeMillis())
    evict(dataRoot, 6)
    Gen.ensure(spark, dataDir, wl.scale, o.seed)
    val inputBuildS = secs(genT0)
    warmUp(spark)

    var tracer: Option[Tracer] = None
    val expected = loadExpected(o.expected, wl.name)
    val passes = wl.passes(o.seconds)
    val execs = mutable.ArrayBuffer.empty[Exec]
    val passWall = mutable.ArrayBuffer.empty[Double]
    val passCpu = mutable.ArrayBuffer.empty[Double]
    val dispatch = mutable.ArrayBuffer.empty[Double]
    val passQueries = mutable.ArrayBuffer.empty[Seq[String]]
    val firstFp = mutable.HashMap.empty[String, String]

    def persisted: (Long, Long, Long) = (spark.sparkContext.getPersistentRDDs.size.toLong,
      spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum,
      Tracer.cacheEntries(spark).size.toLong)

    /** Runs `body` as span pass/query/phase under its own job group. */
    def phase[T](pass: Int, q: String, ph: String)(body: => T): (Either[Throwable, T], Double) = {
      val sc = spark.sparkContext
      val span = s"$pass/$q/$ph"
      sc.setJobGroup(s"perfbench/$span", span, interruptOnCancel = false)
      sc.setLocalProperty(Tracer.SpanKey, span)
      tracer.foreach(_.setSpan(span))
      val t0 = now
      val r = try Right(body) catch { case NonFatal(e) => Left(e) }
      val dt = secs(t0)
      tracer.foreach(_.settle(s"perfbench/$span"))
      sc.clearJobGroup()
      sc.setLocalProperty(Tracer.SpanKey, null)
      (r, dt)
    }

    /** One pass over the workload's queries, in the seed's order for `p`;
      * every fingerprint is checked. */
    def runPass(p: Int): Unit = {
      val cpu0 = processCpuS
      val order = new scala.util.Random(o.seed * 1000003L + p).shuffle(wl.queries.map(_._1))
      passQueries += order
      val passT0 = now
      order.foreach { q =>
        val before = if (o.trace) persisted else (0L, 0L, 0L)
        tracer.foreach(_.beginQuery(s"$p/$q/build"))
        val (built, buildS) = phase(p, q, "build")(graft.SparkEntry.queries(q)(spark, dataDir.getPath))
        val (fp, actionS) = built match {
          case Right(df) => phase(p, q, "action")(Fingerprint(df))
          case Left(e) => (Left(e), 0.0)
        }
        val after = if (o.trace) persisted else (0L, 0L, 0L)
        val got = fp.toOption.getOrElse("")
        val error = fp match {
          case Left(e) => Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
          case Right(f) if firstFp.get(q).exists(_ != f) =>
            Some(s"fingerprint changed within the run: ${firstFp(q)} then $f")
          case Right(f) if !expected.get(q).contains(f) =>
            Some(s"fingerprint mismatch: got $f, expected ${expected.getOrElse(q, "(none)")}")
          case _ => None
        }
        if (got.nonEmpty) firstFp.getOrElseUpdate(q, got)
        error.foreach(e => System.err.println(s"[perfbench] FAILED $q (pass $p): $e"))
        execs += Exec(p, q, buildS, actionS, got, error, after._1 - before._1,
          after._2 - before._2, after._3 - before._3)
      }
      passWall += secs(passT0)
      passCpu += processCpuS - cpu0
    }

    // Priming is pass 0 on the timed inputs: it compiles the generated
    // classes, warms the JIT on the timed data sizes and fills the
    // engine's per-JVM and per-session caches. Every fingerprint is
    // checked; it is part of set-up, not of the timed passes.
    runPass(0)
    val sc = spark.sparkContext
    if (o.trace) {
      val t = new Tracer(spark)
      sc.addSparkListener(t)
      spark.listenerManager.register(t.plans)
      tracer = Some(t)
    }
    // set-up: JVM start to the first timed query, input generation excluded
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0 - inputBuildS

    val gc0 = gcSeconds
    for (p <- 1 to passes) {
      runPass(p)
      // per-pass dispatch probe: 25 no-data jobs, outside the timed pass
      if (o.trace) {
        val (_, d) = phase(p, "_dispatch_probe", "probe") {
          var i = 0; while (i < 25) { spark.range(1000).count(); i += 1 }
        }
        dispatch += d
      }
    }
    val gcS = (gcSeconds - gc0) / passes
    val heapMb = heapAfterGcMb()

    // -- metrics ----------------------------------------------------------
    val timed = execs.filter(_.pass > 0).toSeq
    val lat = timed.map(_.latencyS).sorted
    val beyond = 10
    val tailIdx = math.max(0, lat.size - beyond - 1)
    val tailPct = 100.0 * (tailIdx + 1) / math.max(1, lat.size)
    val failed = execs.count(_.error.nonEmpty)
    val attempted = execs.size
    val endToEnd = Seq(
      "setup_s" -> (setupS, "s"),
      "wall_s" -> (median(passWall.drop(1).toSeq), "s"),
      "query_p50_s" -> (median(lat), "s"),
      "query_tail_s" -> (lat(tailIdx), "s"),
      "cpu_s" -> (median(passCpu.drop(1).toSeq), "s"),
      "heap_after_gc_mb" -> (heapMb, "MB"),
      "ok_frac" -> (1.0 - failed.toDouble / attempted, "ratio"))

    val layerMetrics = tracer.map(t =>
      layerReport(t, wl, timed, passes, passWall.drop(1).toSeq, dispatch.toSeq, gcS)).getOrElse(Nil)

    val unifiedBytes = sc.getExecutorMemoryStatus.values.map(_._1).sum
    val failures = execs.filter(_.error.nonEmpty).groupBy(_.query).map { case (q, es) =>
      s""""$q":"${esc(es.head.error.get)}"""" }.mkString("{", ",", "}")
    val info = Seq(
      s""""workload":"${wl.name}"""", s""""seed":${o.seed}""", s""""passes":$passes""",
      s""""prime_s":${num(passWall.head)}""",
      s""""pass_wall_s":[${passWall.map(num).mkString(",")}]""",
      s""""input_build_s":${num(inputBuildS)}""",
      s""""input_bytes":${Gen.bytes(dataDir)}""",
      s""""input_rows":{${Gen.tables.map(t => t -> wl.scale.rows(t)).map { case (k, v) => s""""$k":$v""" }.mkString(",")}}""",
      s""""unified_memory_bytes":$unifiedBytes""",
      s""""query_tail_s":{"value":${num(lat(tailIdx))},"unit":"s","percentile":${num(tailPct)},""" +
        s""""samples":${lat.size}}""",
      s""""failed_frac":{"value":${num(failed.toDouble / attempted)},"unit":"ratio"}""",
      s""""failures":$failures""").mkString("{", ",", "}")
    println(s"""{"info":$info}""")

    writeArtifact(work, o, wl, execs.toSeq, passQueries.toSeq, passWall.toSeq, tracer)
    spark.stop()

    val metrics = (if (o.trace) layerMetrics else endToEnd)
      .map { case (k, (v, u)) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
      .mkString("{", ",", "}")
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":$metrics}""")
    System.out.flush()
    sys.exit(if (failed == 0) 0 else 1)
  }

  /** Per-layer and Spark-substrate metrics of a traced run, per pass. */
  private def layerReport(t: Tracer, wl: Workload, execs: Seq[Exec], passes: Int,
      passWall: Seq[Double], dispatch: Seq[Double], gcS: Double): Seq[(String, (Double, String))] = {
    val spans = t.spanNames.filter(s => s.split("/").headOption
      .exists(p => p.nonEmpty && p.forall(_.isDigit) && p.toInt > 0))
    val querySpans = spans.filterNot(_.contains("/_dispatch_probe/"))
    def total(ss: Iterable[String]): Counters = {
      val k = new Counters; ss.foreach(s => k.add(t.counters(s))); k
    }
    val all = total(querySpans)
    val per = passes.toDouble
    val byLayer = Workloads.layers.flatMap { layer =>
      val qs = wl.queries.collect { case (q, l) if l == layer => q }.toSet
      val ss = querySpans.filter(s => qs(s.split("/")(1)))
      val k = total(ss)
      val es = execs.filter(e => qs(e.query))
      val selfS = ss.toSeq.map { s =>
        val e = execs.find(x => s == s"${x.pass}/${x.query}/build" || s == s"${x.pass}/${x.query}/action")
        val wall = e.map(x => if (s.endsWith("/build")) x.buildS else x.actionS).getOrElse(0.0)
        math.max(0.0, wall - t.counters(s).jobMs / 1000.0)
      }.sum
      Seq(
        s"$layer.build_s" -> (es.map(_.buildS).sum / per, "s"),
        s"$layer.action_s" -> (es.map(_.actionS).sum / per, "s"),
        s"$layer.self_s" -> (selfS / per, "s"),
        s"$layer.jobs" -> (k.jobs / per, "count"),
        s"$layer.tasks" -> (k.tasks / per, "count"),
        s"$layer.shuffle_write_bytes" -> (k.shuffleWriteBytes / per, "bytes"),
        s"$layer.cpu_s" -> (k.cpuNs / 1e9 / per, "s"))
    }
    val wallMs = passWall.sum * 1000
    byLayer ++ Seq(
      "scheduler.jobs" -> (all.jobs / per, "count"),
      "scheduler.stages" -> (all.stages / per, "count"),
      "scheduler.tasks" -> (all.tasks / per, "count"),
      "scheduler.dispatch_s" -> (median(dispatch), "s"),
      "scheduler.task_wait_s" -> (all.taskWaitMs / 1000.0 / per, "s"),
      "scheduler.idle_slot_frac" -> (1.0 - all.runMs / (wallMs * 4), "ratio"),
      "scheduler.empty_task_frac" -> (all.emptyTasks.toDouble / math.max(1L, all.tasks), "ratio"),
      "scheduler.failed_tasks" -> (all.failedTasks / per, "count"),
      "scan.input_bytes" -> (all.inputBytes / per, "bytes"),
      "scan.input_rows" -> (all.inputRows / per, "rows"),
      "shuffle.write_bytes" -> (all.shuffleWriteBytes / per, "bytes"),
      "shuffle.write_rows" -> (all.shuffleWriteRows / per, "rows"),
      "shuffle.read_bytes" -> (all.shuffleReadBytes / per, "bytes"),
      "shuffle.fetch_wait_s" -> (all.fetchWaitMs / 1000.0 / per, "s"),
      "memory.spill_bytes" -> (all.spillBytes / per, "bytes"),
      "memory.peak_exec_bytes" -> (all.peakExecBytes.toDouble, "bytes"),
      "memory.gc_s" -> (gcS, "s"),
      "materialize.rdds_left" -> (execs.map(_.rddsLeft).sum / per, "count"),
      "materialize.bytes_left" -> (execs.map(_.bytesLeft).sum / per, "bytes"),
      "materialize.cache_entries_left" -> (execs.map(_.cacheEntriesLeft).sum / per, "count"),
      "materialize.cache_hits" -> (all.cacheHits / per, "count"),
      "sink.output_bytes" -> (all.outputBytes / per, "bytes"),
      "sink.output_rows" -> (all.outputRows / per, "rows"),
      "stream.batches" -> (all.streamBatches / per, "count"),
      "stream.input_rows" -> (all.streamInputRows / per, "rows"),
      "stream.state_rows" -> (all.streamStateRows / per, "rows"),
      "stream.batch_s" -> (all.streamBatchMs / 1000.0 / per, "s"),
      "trace.wall_s" -> (median(passWall), "s"))
  }

  /** Writes the run's executions (and, when traced, its span tree:
    * run -> pass -> query -> phase -> job -> stage) as one JSON file. */
  private def writeArtifact(work: File, o: Opts, wl: Workload, execs: Seq[Exec],
      order: Seq[Seq[String]], passWall: Seq[Double], tracer: Option[Tracer]): Unit = {
    val dir = new File(work, "results"); dir.mkdirs()
    def phaseJson(e: Exec, ph: String): String = {
      val wall = if (ph == "build") e.buildS else e.actionS
      tracer.fold(s"""{"wall_s":${num(wall)}}""") { t =>
        val span = s"${e.pass}/${e.query}/$ph"
        val k = t.counters(span)
        val jobs = t.jobsOf(span).map { case (id, a, b, st) =>
          val stages = st.map { case (sid, x, y, n) =>
            s"""{"stage":$sid,"start_ms":$x,"end_ms":$y,"tasks":$n}""" }
          s"""{"job":$id,"start_ms":$a,"end_ms":$b,"stages":[${stages.mkString(",")}]}""" }
        s"""{"wall_s":${num(wall)},"self_s":${num(math.max(0.0, wall - k.jobMs / 1000.0))},""" +
          s""""counters":${k.json},"jobs":[${jobs.mkString(",")}]}"""
      }
    }
    val passJson = order.zipWithIndex.map { case (qs, p) =>
      val qj = qs.flatMap(q => execs.find(e => e.pass == p && e.query == q)).map { e =>
        s"""{"query":"${e.query}","layer":"${wl.layerOf(e.query)}","fingerprint":"${e.fingerprint}",""" +
          s""""error":${e.error.fold("null")(x => "\"" + esc(x) + "\"")},""" +
          s""""materialize":{"rdds_left":${e.rddsLeft},"bytes_left":${e.bytesLeft},""" +
          s""""cache_entries_left":${e.cacheEntriesLeft}},""" +
          s""""build":${phaseJson(e, "build")},"action":${phaseJson(e, "action")}}"""
      }
      s"""{"pass":$p,"warm":${p == 0},"wall_s":${num(passWall(p))},"queries":[${qj.mkString(",")}]}"""
    }
    // per-query counters summed over passes: what two same-seed traced
    // runs must reproduce exactly
    val perQuery = tracer.fold("{}") { t =>
      wl.queries.map(_._1).map { q =>
        val k = new Counters
        for (p <- 1 until order.size; ph <- Seq("build", "action")) k.add(t.counters(s"$p/$q/$ph"))
        s""""$q":{${k.exact.map { case (n, v) => s""""$n":$v""" }.mkString(",")}}"""
      }.mkString("{", ",", "}")
    }
    val unattributed = tracer.fold("null")(_.counters(Tracer.Unattributed).json)
    val json = s"""{"workload":"${wl.name}","seed":${o.seed},"trace":${o.trace},""" +
      s""""passes":[${passJson.mkString(",")}],"per_query":$perQuery,"unattributed":$unattributed}"""
    Files.writeString(new File(dir, s"${wl.name}-s${o.seed}-t${if (o.trace) 1 else 0}.json").toPath,
      json + "\n")
  }
}
