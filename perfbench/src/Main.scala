package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import org.apache.spark.sql.{Row, SparkSession}
import graft.{QueryDef, SparkEntry}

/** One benchmark run in one JVM: build the session, run the workload's steps
  * once untimed (the warm pass, whose outputs the harness checks against the
  * DuckDB oracle once this JVM has exited), then run the timed passes back to
  * back, checking every timed step's full output against the warm output.
  *
  * Closed loop, one client: steps and passes never overlap.
  *
  * Usage: perfbench.Main <workload> <dataDir> <runRoot> <outDir> <seconds>
  *          <trace 0|1> <processStartEpochMs>
  */
object Main {
  /** A workload: its steps (graft.SparkEntry query names), the nominal
    * seconds of one settled pass on a 4-core host, which sizes the run (a
    * run times round(seconds / passS) passes, at least three so that the
    * median is a sample; a count that no host speed changes). */
  final case class Workload(steps: Seq[String], passS: Double)

  // Pass time still falls over the first passes after the warm pass while
  // the JIT compiles (cva_refresh 5.2 s to 4.0 s by the third pass,
  // manifest_fold 8.1 s to 7.1 s). No untimed pass is spent on that: the
  // median of the timed passes leaves out the slow first one, and a timed
  // pass adds a sample where an untimed one only adds set-up time.
  val workloads: Map[String, Workload] = Map(
    "cva_refresh" -> Workload(Seq("q94_cva_end_to_end", "q112_flagging_end_to_end"), 4.0),
    "manifest_fold" -> Workload(Seq("q191_manifest_asof"), 7.0))

  /** The session `graft.Bench` and `graft.Verify` run on, with the run's
    * private scratch locations. */
  def session(cores: Int, root: String, trace: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$root/local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
    // registered through the conf, not the listener manager, so the
    // newSession() forks the streaming steps run in are traced too
    if (trace) b.config("spark.sql.queryExecutionListeners", classOf[PlanListener].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** One output row: its values as text, doubles at six significant digits,
    * and the doubles in full, in column-name order. */
  final case class CanonRow(key: String, doubles: Vector[Double])

  /** Canonical, order-free form of a step's output: columns by name, rows
    * sorted. Compare with `sameOutput`. */
  def canonical(rows: Array[Row], names: Seq[String]): Vector[CanonRow] = {
    val order = names.zipWithIndex.sortBy(_._1).map(_._2)
    def row(r: Row): CanonRow = {
      val ds = Vector.newBuilder[Double]
      def v(x: Any): String = x match {
        case null => "null"
        case d: Double => ds += d; "%.6g".format(d)
        case f: Float => v(f.toDouble)
        case b: Array[Byte] => b.map("%02x".format(_)).mkString
        case r: Row => r.toSeq.map(v).mkString("{", ",", "}")
        case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => (v(k), v(x)) }
          .sortBy(_._1).map { case (k, x) => k + "->" + x }.mkString("<", ",", ">")
        case s: scala.collection.Seq[_] => s.map(v).mkString("[", ",", "]")
        case o => o.toString
      }
      val key = order.map(i => v(r.get(i))).mkString("|")
      CanonRow(key, ds.result())
    }
    rows.iterator.map(row).toVector.sortBy(r => (r.key, r.doubles.mkString(",")))
  }

  /** Doubles match within a relative 1e-12 (absolute 1e-9 near zero): a sum
    * of doubles depends on the order of its terms, and no engine fixes that
    * order (run.py's REL_TOL and ABS_TOL, where the reason is given). */
  def close(a: Double, b: Double): Boolean =
    a == b || (a.isNaN && b.isNaN) ||
      math.abs(a - b) <= math.max(1e-12 * math.max(math.abs(a), math.abs(b)), 1e-9)

  def sameOutput(a: Vector[CanonRow], b: Vector[CanonRow]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) =>
      x.key == y.key && x.doubles.size == y.doubles.size &&
        x.doubles.zip(y.doubles).forall { case (p, q) => close(p, q) }
    }

  def dirBytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.iterator.map(dirBytes).sum).getOrElse(0L)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** graft.Bench's host calibration query: fixed CPU and shuffle work. */
  def canary(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions.{col, sum, xxhash64}
    val t0 = System.nanoTime()
    spark.range(0, 32L * 1000 * 1000, 1, 32)
      .select((col("id") % 1024).as("k"), (xxhash64(col("id")) % 1048576).as("h"))
      .groupBy("k").agg(sum("h")).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** CPU seconds of the JIT compiler threads (named "C1/C2 CompilerThread"),
    * from the kernel's per-thread accounting (clock ticks of 1/100 s). The
    * compilation MXBean's time is elapsed time, which counts the time a
    * compiler thread waited for a core: with the executor threads on every
    * core it overstates the compilers' CPU by a varying amount. Where there
    * is no /proc (not Linux), that elapsed time is the fallback. */
  def jitS(): Double = {
    val tasks = new File("/proc/self/task")
    Option(tasks.listFiles).map { ts =>
      ts.iterator.map { t =>
        val stat = try java.nio.file.Files.readString(new File(t, "stat").toPath)
          catch { case _: java.io.IOException => "" } // the thread has ended
        val name = stat.slice(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
        if (!name.contains("CompilerThre")) 0.0
        else {
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
          (f(11).toLong + f(12).toLong) / 100.0 // utime + stime
        }
      }.sum
    }.getOrElse(ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3)
  }

  /** Leftovers of the previous pass (cached frames, pinned checkpoints, GC
    * debt) are settled outside the timer, as graft.Bench does. */
  def settle(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  def main(args: Array[String]): Unit = {
    if (args.length == 2 && args(0) == "--oracle-sql") {
      // every workload step's oracle SQL, for the harness's answer cache
      val names = workloads.values.flatMap(_.steps).toSet
      java.nio.file.Files.writeString(new File(args(1)).toPath,
        Json(SparkEntry.oracleSql.filter { case (k, _) => names(k) }))
      return
    }
    val Array(workload, data, root, outDir, secondsS, traceS, startMsS) = args
    val wl = workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val steps = wl.steps
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val spark = session(cores, root, trace)
    println(s"[perfbench] workload=$workload steps=${steps.mkString(",")} cores=$cores " +
      s"heap_max_mb=${Runtime.getRuntime.maxMemory / (1 << 20)} trace=$trace")
    spark.conf.getAll.toSeq.sorted.foreach { case (k, v) =>
      if (k.startsWith("spark.sql.") || k == "spark.master" || k == "spark.local.dir")
        println(s"[perfbench] conf $k=$v")
    }
    val defs: Seq[QueryDef] = steps.map(n => SparkEntry.allDefs.find(_.name == n)
      .getOrElse(sys.error(s"step $n is not in SparkEntry")))
    val batches = new BatchTimes(spark)
    val tracer = if (trace) Some(new Tracer(spark)) else None
    // the gate's self-check: drop one row of this step's timed output
    val inject = sys.env.get("PERFBENCH_INJECT_WRONG").toSet

    val stepS = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

    /** One pass of every step; the clock covers build and sink only.
      * Returns wall seconds, CPU seconds outside the JIT compiler, JIT
      * seconds and each step's canonical output. */
    def runPass(pass: Int, traced: Boolean, timed: Boolean = true)
        : (Double, Double, Double, Seq[(String, Either[Throwable, Vector[CanonRow]])]) = {
      settle(spark)
      val t = tracer.filter(_ => traced)
      t.foreach(_.beginPass(pass))
      val c0 = processCpuS()
      val j0 = jitS()
      val p0 = System.nanoTime()
      val outputs = defs.map { d =>
        t.foreach(_.beginStep(d.name))
        val s0 = System.nanoTime()
        val res = try {
          val df = t.fold(d.build(spark, data))(_.span("build", d.build(spark, data)))
          val rows = t.fold(df.collect())(_.span("sink", df.collect()))
          Right((rows, df.schema.fieldNames.toSeq))
        } catch { case e: Throwable => Left(e) }
        if (timed && !traced) stepS.getOrElseUpdate(d.name, mutable.ArrayBuffer.empty) +=
          (System.nanoTime() - s0) / 1e9
        t.foreach(_.endStep())
        d.name -> res
      }
      val wall = (System.nanoTime() - p0) / 1e9
      val jit = jitS() - j0
      // Every pass compiles new generated code: the compiler threads still
      // used 3-5 s of CPU per 6-7 s manifest_fold pass in a run's ninth pass.
      // cpu_s is the CPU of the other threads (query, executor and GC), so
      // the JIT's share is taken out and reported apart (spark.jit_s).
      val cpu = processCpuS() - c0 - jit
      t.foreach(_.endPass())
      // canonical forms are made after the clock stopped
      (wall, cpu, jit, outputs.map { case (n, res) => n -> res.map { case (rows, names) =>
        canonical(if (inject(n)) rows.drop(1) else rows, names) } })
    }

    // ---- set-up: the warm pass stages state into the fresh temp root and
    // compiles the steps' code; its outputs are what the oracle check reads
    val warm = defs.map { d =>
      val w0 = System.nanoTime()
      val out = try {
        val df = d.build(spark, data)
        val rows = df.collect()
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/${d.name}")
        Right(canonical(rows, df.schema.fieldNames.toSeq))
      } catch { case e: Throwable => Left(e.toString) }
      println(f"[perfbench] warm ${d.name}: ${(System.nanoTime() - w0) / 1e9}%.2f s" +
        out.left.map(e => s" FAILED $e").left.getOrElse(""))
      d.name -> out
    }.toMap
    val setupS = (System.currentTimeMillis() - startMsS.toLong) / 1e3
    // what the timed passes leave under the temp root (generations, ledgers,
    // checkpoints, sink dirs), beyond the states set-up staged
    def retained(): Long = dirBytes(new File(s"$root/tmp")) + dirBytes(new File(s"$root/warehouse"))
    val disk0 = retained()

    // ---- timed passes, back to back; a traced run alternates traced and
    // untraced passes to measure the overhead
    val wallS, cpuS, jitPassS, tracedS, canaryS, batchS = mutable.ArrayBuffer.empty[Double]
    var attempted = 0
    val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = math.max(3, math.round(seconds / wl.passS).toInt)
    var pass = 0
    while (pass < passes) {
      if (trace) canaryS += canary(spark)
      val traced = trace && pass % 2 == 0
      batches.reset()
      val (wall, cpu, jit, outputs) = runPass(pass, traced)
      batchS ++= batches.drain()
      val errs = outputs.flatMap { case (name, res) =>
        attempted += 1
        ((res, warm(name)) match {
          case (Left(e), _) => Some(s"threw $e")
          case (_, Left(e)) => Some(s"the warm pass threw (${e.take(160)})")
          case (Right(got), Right(want)) =>
            if (sameOutput(got, want)) None
            else Some(s"output differs from the oracle-checked warm output " +
              s"(${got.size} vs ${want.size} rows)")
        }).map(e => Map("pass" -> pass, "step" -> name, "why" -> e))
      }
      failures ++= errs
      // a pass with a failed step is never reported as a time
      if (errs.isEmpty) {
        jitPassS += jit
        if (traced) tracedS += wall else { wallS += wall; cpuS += cpu }
      }
      pass += 1
    }

    val diskPerPass = (retained() - disk0).toDouble / pass

    val perLayer: Map[String, Double] = tracer.map { t =>
      // staging cost: one more pass against an empty staging cache
      val fresh = new File(s"$root/tmp-restage"); fresh.mkdirs()
      System.setProperty("java.io.tmpdir", fresh.getPath)
      val (restage, _, _, _) = runPass(pass, traced = false, timed = false)
      System.setProperty("java.io.tmpdir", s"$root/tmp")
      t.metrics() ++ Kernels.run(spark, data) ++ Map(
        "queries.disk_mb" -> diskPerPass / 1048576.0,
        "spark.jit_s" -> median(jitPassS.toSeq),
        "sources.stage_s" -> (restage - median(wallS.toSeq)),
        "host.canary_s" -> median(canaryS.toSeq),
        "trace.overhead" -> (median(tracedS.toSeq) / median(wallS.toSeq) - 1))
    }.getOrElse(Map.empty)
    tracer.foreach(_.writeSpans(s"$outDir/spans.json"))

    // Spark's context cleaner frees unreferenced broadcast and shuffle
    // blocks only after a GC has found them, so collect until it settles
    (1 to 3).foreach { _ => settle(spark); Thread.sleep(300) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val result = Map(
      "workload" -> workload,
      "steps" -> steps,
      "passes" -> pass,
      "attempted" -> attempted,
      "failures" -> failures.toSeq,
      "pass_s_all" -> wallS.toSeq,
      "cpu_s_all" -> cpuS.toSeq,
      "step_s" -> stepS.map { case (k, v) => k -> median(v.toSeq) },
      // a median of no samples is NaN, written as null
      "fold_batch_s" -> median(batchS.toSeq),
      "disk_mb" -> diskPerPass / 1048576.0,
      "cpu_s" -> median(cpuS.toSeq),
      "end_to_end" -> Map(
        "setup_s" -> setupS,
        "pass_s" -> median(wallS.toSeq),
        "retained_heap_mb" -> heapMb),
      "per_layer" -> perLayer)
    java.nio.file.Files.writeString(new File(outDir, "result.json").toPath, Json(result))
    spark.stop()
  }
}
