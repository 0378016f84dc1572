package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

/** JVM side of the benchmark. `run <plan> <out>` executes the operations
  * listed in the plan file in one Spark session and writes one JSON record
  * per line to `out`: the session-ready time, each operation, each pass.
  * `digest <dir> <out> <name>...` writes the digest of each parquet result
  * `<dir>/<name>` (a `graft.Verify` dump) in the same form.
  *
  * It calls only the program's public entry points: `SparkEntry.queries`
  * (construction), full collection of the returned frame (action) and
  * `etl.StarAdapter.runPipeline`.
  */
object Harness {

  final case class Op(pass: Int, timed: Boolean, traced: Boolean, kind: String, arg: String)

  def main(args: Array[String]): Unit = args.toList match {
    case "run" :: plan :: out :: Nil => run(plan, out)
    case "digest" :: dir :: out :: names => digestDumps(dir, out, names)
    case _ =>
      System.err.println("usage: Harness run <plan> <out> | digest <dir> <out> <name>...")
      sys.exit(2)
  }

  private def session(cores: Int, warehouse: String): SparkSession = {
    // The same settings graft.Verify and graft.Bench use.
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", warehouse)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
      case _ => -1.0
    }

  /** Memory and disk held by cached and checkpointed RDDs (the memos);
    * broadcast blocks, which the cleaner frees at no fixed time, are left out.
    */
  private def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  /** Cached-RDD storage, polled every 50 ms: a cache that an operation
    * persists and unpersists again still shows in its peak.
    */
  final class StorageSampler(spark: SparkSession) extends Thread("perfbench-storage") {
    private var max = 0.0
    setDaemon(true)
    override def run(): Unit =
      try while (true) { sample(); Thread.sleep(50) }
      catch { case _: InterruptedException => () }
    def sample(): Unit = { val v = storageMb(spark); synchronized { if (v > max) max = v } }
    /** Peak since the last call, sampled once more now. */
    def takePeak(): Double = { sample(); synchronized { val m = max; max = 0.0; m } }
  }

  /** Pipeline step of a job, from the frames of its call site. */
  private def etlStep(site: String): Option[String] =
    if (site.contains("graft.etl.Lineage")) Some("lineage")
    else if (site.contains("graft.etl.Job2")) Some("job2")
    else if (site.contains("graft.etl.StarAdapter") || site.contains("graft.etl.Job1")) Some("job1")
    else None

  def run(planPath: String, outPath: String): Unit = {
    val lines = Files.readAllLines(Paths.get(planPath)).asScala.map(_.split("\t").toList)
    val conf = lines.collect { case k :: v :: Nil => k -> v }.toMap
    val ops = lines.collect { case "op" :: p :: t :: tr :: kind :: arg :: Nil =>
      Op(p.toInt, t == "1", tr == "1", kind, arg)
    }
    val tables = conf("tables")
    val out = new PrintWriter(outPath, "UTF-8")
    def emit(fields: (String, Any)*): Unit = { out.println(Json.obj(fields)); out.flush() }

    val base = session(conf("cores").toInt, conf("warehouse"))
    val sc = base.sparkContext
    // With fresh_sessions, every operation runs in a new SparkSession (so
    // every Det memo is rebuilt) over an empty artifact root, after the
    // caches of the previous one are dropped through Spark's own API: its
    // cold cost is then its own, whatever ran before it.
    val freshSessions = conf.get("fresh_sessions").contains("1")
    var spark = base
    val storage = new StorageSampler(base)
    storage.start()
    emit("kind" -> "ready", "epoch_ms" -> System.currentTimeMillis())
    val tracer = new Tracer(etlStep)
    var tracing = false
    def setTracing(on: Boolean): Unit = if (on != tracing) {
      org.apache.spark.SparkBus.drain(sc)
      if (on) { sc.addSparkListener(tracer); spark.listenerManager.register(tracer) }
      else { sc.removeSparkListener(tracer); spark.listenerManager.unregister(tracer) }
      tracing = on
    }
    def switchSession(artifactRoot: String): Unit = {
      if (tracing) spark.listenerManager.unregister(tracer)
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
      spark = base.newSession()
      System.setProperty("graft.index.root", artifactRoot)
      if (tracing) spark.listenerManager.register(tracer)
    }
    def snap(): Counters =
      if (tracing) { org.apache.spark.SparkBus.drain(sc); tracer.snapshot() } else Counters()

    // A pass stops the clock at its last result; digests are taken after
    // it, so checking adds nothing to the measured time.
    final case class Done(op: Op, start: Long, end: Long, constructS: Double,
        latencyS: Double, rows: Array[Row], err: String, fields: Seq[(String, Any)])
    val deadlineMs = conf.getOrElse("deadline_ms", "0").toLong
    val minPasses = conf.getOrElse("min_passes", "1").toInt
    var timedStart = -1L
    var timedPasses = 0
    var peakCached = 0
    val byPass = ops.groupBy(_.pass).toSeq.sortBy(_._1)
    byPass.iterator.takeWhile { case (_, passOps) =>
      !passOps.head.timed || timedStart < 0 || timedPasses < minPasses ||
        System.currentTimeMillis() - timedStart < deadlineMs
    }.foreach { case (pass, passOps) =>
      setTracing(passOps.head.traced)
      val passStart = System.currentTimeMillis()
      if (passOps.head.timed && timedStart < 0) timedStart = passStart
      val cpu0 = processCpuS()
      val cPass = snap()
      // The session switch is the harness's own teardown, not the program's
      // work: its wall and CPU time are recorded apart and left out of the
      // pass's wall and CPU time.
      var switchNs = 0L
      var switchCpuS = 0.0
      val done = passOps.zipWithIndex.map { case (op, i) =>
        if (freshSessions) {
          val s0 = System.nanoTime()
          val sCpu0 = processCpuS()
          switchSession(s"${conf("index_root")}/pass$pass/op$i")
          switchCpuS += processCpuS() - sCpu0
          switchNs += System.nanoTime() - s0
        }
        val c0 = snap()
        storage.takePeak()
        val start = System.currentTimeMillis()
        val t0 = System.nanoTime()
        var err: String = null
        var constructS = 0.0
        var cMid = c0
        var rows: Array[Row] = null
        try {
          if (op.kind == "query") {
            val df = graft.SparkEntry.queries(op.arg)(spark, tables)
            constructS = (System.nanoTime() - t0) / 1e9
            cMid = snap()
            rows = df.collect()
          } else graft.etl.StarAdapter.runPipeline(spark, tables, op.arg)
        } catch { case e: Throwable => err = Option(e.getMessage).getOrElse(e.toString).take(300) }
        val latencyS = (System.nanoTime() - t0) / 1e9
        val end = System.currentTimeMillis()
        val c1 = snap()
        val cached = sc.getPersistentRDDs.size
        peakCached = math.max(peakCached, cached)
        val traced: Seq[(String, Any)] = if (!tracing) Nil else {
          val d = c1 - c0
          Seq("jobs" -> d.jobs, "stages" -> d.stages, "tasks" -> d.tasks,
            "construct_jobs" -> (cMid - c0).jobs,
            "busy_s" -> tracer.busyMs(start, end) / 1e3,
            "plan_s" -> d.planMs / 1e3,
            "executor_run_s" -> d.runMs / 1e3, "executor_cpu_s" -> d.cpuNs / 1e9,
            "executor_gc_s" -> d.gcMs / 1e3,
            "input_bytes" -> d.inputBytes, "shuffle_read_bytes" -> d.shuffleReadBytes,
            "shuffle_write_bytes" -> d.shuffleWriteBytes, "spill_bytes" -> d.spillBytes,
            "steps" -> d.steps.map { case (k, v) => k -> v / 1e3 })
        }
        Done(op, start, end, constructS, latencyS, rows, err,
          Seq("storage_mb" -> storage.takePeak(), "cached_rdds" -> cached) ++ traced)
      }
      val passEnd = System.currentTimeMillis()
      val cpuS = processCpuS() - cpu0 - switchCpuS
      val passTotals = snap() - cPass
      if (passOps.head.timed) timedPasses += 1
      done.foreach { d =>
        val (nRows, digest) =
          if (d.err != null) (0L, "")
          else if (d.op.kind == "query") (d.rows.length.toLong, Digest.ofRows(d.rows, exact = true))
          else etlDigest(spark, d.op.arg)
        emit(Seq[(String, Any)]("kind" -> "op", "pass" -> pass, "timed" -> d.op.timed,
          "traced" -> tracing, "op" -> (if (d.op.kind == "query") d.op.arg else d.op.kind),
          "err" -> d.err, "start_ms" -> d.start, "end_ms" -> d.end,
          "construct_s" -> d.constructS, "latency_s" -> d.latencyS,
          "rows" -> nRows, "digest" -> digest) ++ d.fields: _*)
      }
      emit("kind" -> "pass", "pass" -> pass, "timed" -> passOps.head.timed,
        "traced" -> tracing, "start_ms" -> passStart, "end_ms" -> passEnd,
        "switch_s" -> switchNs / 1e9, "cpu_s" -> cpuS, "cached_rdds_peak" -> peakCached,
        "jobs" -> passTotals.jobs, "stages" -> passTotals.stages,
        "tasks" -> passTotals.tasks, "executor_run_ms" -> passTotals.runMs)
    }
    setTracing(false)
    storage.interrupt()
    storage.join()
    out.close()
    base.stop()
  }

  /** The pipeline's two outputs and its lineage rows. Float columns are
    * compared at 12 significant digits: Job2 sums doubles in shuffle order.
    */
  private def etlDigest(spark: SparkSession, workDir: String): (Long, String) = {
    val sales = spark.read.parquet(s"$workDir/processed_sales").collect()
    val asset = spark.read.parquet(s"$workDir/sales_analytics_asset").collect()
    val lineage = spark.read.parquet(s"$workDir/lineage_registry").count()
    (sales.length.toLong + asset.length,
      s"sales=${Digest.ofRows(sales, exact = false)} asset=${Digest.ofRows(asset, exact = false)} lineage=$lineage")
  }

  def digestDumps(dir: String, outPath: String, names: Seq[String]): Unit = {
    val spark = session(2, new File(outPath).getAbsoluteFile.getParent + "/warehouse")
    val out = new PrintWriter(outPath, "UTF-8")
    names.foreach { n =>
      val rows = spark.read.parquet(s"$dir/$n").collect()
      out.println(Json.obj(Seq("op" -> n, "rows" -> rows.length.toLong,
        "digest" -> Digest.ofRows(rows, exact = true))))
    }
    out.close()
    spark.stop()
  }
}

/** Row count plus an order-insensitive hash: the wrapping sum of each
  * row's MD5 prefix over its values in column-name order. Values are
  * rendered so that a Verify parquet dump and a live result agree.
  */
object Digest {
  def ofRows(rows: Array[Row], exact: Boolean): String = {
    if (rows.isEmpty) return "0:0"
    val order = rows.head.schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val md = java.security.MessageDigest.getInstance("MD5")
    var sum = 0L
    rows.foreach { r =>
      val b = md.digest(order.map(i => render(r.get(i), exact)).mkString("\u0001").getBytes("UTF-8"))
      sum += java.nio.ByteBuffer.wrap(b, 0, 8).getLong
    }
    s"${rows.length}:${java.lang.Long.toHexString(sum)}"
  }

  private def render(v: Any, exact: Boolean): String = v match {
    case null => "\u0000"
    case d: Double if !exact && !d.isNaN && !d.isInfinite =>
      new java.math.BigDecimal(d).round(new java.math.MathContext(12)).stripTrailingZeros.toString
    case f: Float => render(f.toDouble, exact)
    case t: java.sql.Timestamp => s"ts${t.getTime}.${t.getNanos}"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(render(_, exact)).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k, exact) + "=" + render(x, exact) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(render(_, exact)).mkString("[", ",", "]")
    case x => x.toString
  }
}

/** Minimal JSON writer for the records (numbers, strings, booleans, maps). */
object Json {
  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  private def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case x => str(x.toString)
  }

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
