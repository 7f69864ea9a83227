package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.ops.Dedup
import graft.streaming.DedupStream

/** One benchmark run of one workload in this (fresh) JVM.
  *
  * Arguments are `key=value`: `data` (generated tables), `work` (scratch
  * dir), `result` (detail JSON path), `queries` (comma list of registry
  * names; `stream_dedup` is the streaming dedup run over `data/stream`),
  * `seed`, `seconds`, `trace` (0|1), `cores`, `min_passes`, `warmup_s`,
  * `kernel_reps`.
  *
  * A pass runs every query once; pins a query leaves
  * behind are measured and released after it, outside its timed interval.
  * The cold pass, the JVM's first contact with every query, runs them in
  * the listed order and writes each
  * result to parquet (`coalesce(1)`, the registry's dump convention) for
  * the oracle check; the stream's survivors are checked against the
  * one-shot dedup. After untimed warm-up passes (`warmup_s`), warm passes
  * materialize every query, in a seeded order, through the noop sink until
  * `seconds` have passed. With `trace=1` the cold pass is
  * traced, the warm passes alternate untraced and traced, and the kernel
  * micro-runs follow. Everything measured goes to the `result` file.
  */
object Main {
  val StreamQuery = "stream_dedup"
  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** One timed query call: wall and process CPU seconds, and the heap
    * still in use after a full GC once it finished, its pins included. */
  final case class Run(name: String, seconds: Double, cpuSeconds: Double,
                       ok: Boolean, heapMb: Double, span: Option[Span])

  def main(args: Array[String]): Unit = {
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val work = a("work")
    val data = a("data")
    val cores = a("cores").toInt
    val seed = a("seed").toLong
    val traced = a("trace") == "1"
    val queries = a("queries").split(",").toSeq
    val spark = Session.build(cores, work)
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    println("READY")
    System.out.flush()

    val registry = graft.SparkEntry.queries
    val oracle = graft.SparkEntry.oracleSql
    val unknown = queries.filterNot(q => q == StreamQuery || registry.contains(q))
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val sc = spark.sparkContext
    val trace = if (traced) Some(new Trace(spark)) else None
    val failures = mutable.ArrayBuffer[Map[String, String]]()
    val leftover = mutable.LinkedHashMap[String, Double]()
    var streamRuns = 0

    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    /** Unpersist everything the last query left pinned; returns its MB. */
    def releasePins(): Double = {
      val infos = sc.getRDDStorageInfo
      val mb = infos.map(i => i.memSize + i.diskSize).sum / 1e6
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      mb
    }

    /** The streaming dedup run: DedupStream over the micro-batch files,
      * AvailableNow, one file per trigger. Returns (survivors dir,
      * state dir). */
    def runStream(): (String, String) = {
      streamRuns += 1
      val root = s"$work/stream/$streamRuns"
      val (state, out) = (s"$root/state", s"$root/out")
      val src = spark.readStream.schema(docSchema)
        .option("maxFilesPerTrigger", 1).parquet(s"$data/stream")
      val q = DedupStream.start(src, s"$root/checkpoint") { (df, bid) =>
        DedupStream.minhashBatch(df, bid, "doc_id", "text", state, out,
          threshold = 0.5)
      }
      q.awaitTermination()
      q.exception.foreach(e => throw e)
      (out, state)
    }

    def countFiles(dir: String): Long = {
      val p = Paths.get(dir)
      if (!Files.exists(p)) 0L
      else {
        val s = Files.walk(p)
        try s.iterator().asScala.count(f => Files.isRegularFile(f) &&
          !f.getFileName.toString.startsWith(".")).toLong
        finally s.close()
      }
    }

    val dumpDir = new java.io.File(s"$work/dump").getAbsolutePath
    var streamOut = ""
    /** Write `df` to the noop sink, or dump it for the oracle check. */
    def sink(name: String, df: DataFrame, dump: Boolean): Unit =
      if (dump) df.coalesce(1).write.mode("overwrite").parquet(s"$dumpDir/$name")
      else noop(df)

    val cpuBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val heapBean = ManagementFactory.getMemoryMXBean

    def runOne(name: String, dump: Boolean, tr: Option[Trace]): Run = {
      tr.foreach { t => Bus.drain(sc); t.reset() }
      sc.setJobGroup(name, name)
      val t0ms = System.currentTimeMillis()
      val cpu0 = cpuBean.getProcessCpuTime
      val t0 = System.nanoTime()
      var tBuilt = t0ms
      var stateFiles = 0.0
      val ok = try {
        if (name == StreamQuery) {
          val (out, state) = runStream()
          if (dump) streamOut = out
          stateFiles = countFiles(state).toDouble
        } else {
          val df = registry(name)(spark, data)
          tBuilt = System.currentTimeMillis()
          sink(name, df, dump)
        }
        true
      } catch {
        case NonFatal(e) =>
          failures += Map("query" -> name, "phase" -> (if (dump) "cold" else "warm"),
            "error" -> String.valueOf(e.getMessage).take(300))
          false
      }
      val secs = (System.nanoTime() - t0) / 1e9
      val cpu = (cpuBean.getProcessCpuTime - cpu0) / 1e9
      val t1ms = System.currentTimeMillis()
      sc.clearJobGroup()
      // outside the timed interval: what the query still holds, then release
      System.gc()
      val heapMb = heapBean.getHeapMemoryUsage.getUsed / 1e6
      val left = releasePins()
      leftover(name) = math.max(leftover.getOrElse(name, 0.0), left)
      val span = tr.map { t =>
        Bus.drain(sc)
        val s = t.close(name, t0ms, tBuilt, t1ms)
        s.copy(layers = s.layers ++ Map("materialize.leftover_mb" -> left,
          "stream.state_files" -> stateFiles))
      }
      Run(name, secs, cpu, ok, heapMb, span)
    }

    /** A pass's wall and CPU time are the sums over its query calls; the
      * release and GC between calls are not timed. */
    def runPass(p: Int, dump: Boolean, tr: Option[Trace]): Map[String, Any] = {
      // the cold pass keeps the listed order, so the same query pays the
      // JVM's first-contact costs in every run; other passes are seeded
      val order =
        if (dump) queries else new scala.util.Random(seed * 7919L + p).shuffle(queries)
      val runs = order.map(q => runOne(q, dump, tr))
      Map("pass" -> p, "traced" -> tr.isDefined, "ok" -> runs.forall(_.ok),
        "wall_s" -> runs.map(_.seconds).sum, "cpu_s" -> runs.map(_.cpuSeconds).sum,
        "peak_heap_mb" -> runs.map(_.heapMb).max,
        "queries" -> runs.map(r => r.name -> r.seconds).toMap,
        "spans" -> runs.flatMap(r => r.span.map(s => r.name -> s.layers)).toMap)
    }

    // ---- cold pass: first contact of this JVM with every query; its
    // results (and those of any query their oracles read) are dumped
    trace.foreach(_.attach())
    val cold = runPass(0, dump = true, trace)
    trace.foreach(_.detach())
    val depRe = "__GRAFT_OUT__/([A-Za-z0-9_]+)".r
    def deps(n: String): Set[String] = oracle.get(n).toSeq
      .flatMap(depRe.findAllMatchIn(_).map(_.group(1))).toSet - n
    def closure(s: Set[String]): Set[String] = {
      val next = s ++ s.flatMap(deps)
      if (next == s) s else closure(next)
    }
    val timed = queries.filter(_ != StreamQuery).toSet
    val dumped = closure(timed).toSeq.sorted
    (dumped.toSet -- timed).foreach { name =>
      try sink(name, registry(name)(spark, data), dump = true)
      catch {
        case NonFatal(e) => failures += Map("query" -> name, "phase" -> "oracle",
          "error" -> String.valueOf(e.getMessage).take(300))
      }
      releasePins()
    }
    val oracleJson = dumped.flatMap(n => oracle.get(n).map(sql =>
      n -> sql.replace("__GRAFT_OUT__", dumpDir))).toMap
    Files.createDirectories(Paths.get(dumpDir))
    Files.writeString(Paths.get(s"$dumpDir/oracle_sql.json"), Json(oracleJson))

    // streaming dedup vs the one-shot Dedup.minhashLsh keep set
    val streamCheck: Option[Map[String, Any]] =
      if (!queries.contains(StreamQuery)) None
      else Some(try {
        val all = spark.read.schema(docSchema).parquet(s"$data/stream")
        val drop = Dedup.minhashLsh(all, "doc_id", "text", 0.5)
          .select("d2").collect().map(_.getLong(0)).toSet
        val expected = all.select("doc_id").collect().map(_.getLong(0)).toSet -- drop
        val got = DedupStream.readTable(spark, streamOut, docSchema).get
          .select(col("doc_id")).collect().map(_.getLong(0)).toSet
        releasePins()
        Map("ok" -> (got == expected), "kept" -> got.size,
          "expected_kept" -> expected.size,
          "only_stream" -> (got -- expected).size,
          "only_batch" -> (expected -- got).size)
      } catch {
        case NonFatal(e) => Map("ok" -> false,
          "error" -> String.valueOf(e.getMessage).take(300))
      })

    // ---- untimed warm-up passes, at least `warmup_s` of them: the JIT is
    // still compiling what the cold pass made hot, and the first noop
    // passes run visibly slower
    val warmup = mutable.ArrayBuffer[Map[String, Any]]()
    val wu0 = System.nanoTime()
    while (warmup.isEmpty ||
      System.nanoTime() - wu0 < a.getOrElse("warmup_s", "0").toDouble * 1e9)
      warmup += runPass(-1 - warmup.size, dump = false, None)

    // ---- warm passes for `seconds`; traced runs alternate U, T, U, T...
    val budgetNs = (a("seconds").toDouble * 1e9).toLong
    val minPasses = a.getOrElse("min_passes", "3").toInt
    val warm = mutable.ArrayBuffer[Map[String, Any]]()
    val w0 = System.nanoTime()
    var p = 1
    while (System.nanoTime() - w0 < budgetNs || warm.size < minPasses ||
      (traced && warm.count(_("traced") == true) == 0)) {
      val tr = if (traced && p % 2 == 0) trace else None
      tr.foreach(_.attach())
      warm += runPass(p, dump = false, tr)
      tr.foreach(_.detach())
      p += 1
    }
    val measuredS = (System.nanoTime() - w0) / 1e9

    val kernels =
      if (!traced) Nil
      else Kernels.run(spark, data, seed, a.getOrElse("kernel_reps", "5").toInt)
        .map { case (k, mode, ns) => Map("kernel" -> k, "mode" -> mode,
          "ns_per_row" -> ns) }

    val result = Map(
      "seed" -> seed, "cores" -> cores, "traced" -> traced,
      "spark_version" -> spark.version,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1e6,
      "setup_in_jvm_s" -> setupS,
      "queries" -> queries, "dumped" -> dumped,
      "cold" -> cold, "warmup" -> warmup, "warm" -> warm, "measured_s" -> measuredS,
      "failures" -> failures, "leftover_mb" -> leftover,
      "stream_check" -> streamCheck, "kernels" -> kernels)
    Files.writeString(Paths.get(a("result")), Json(result))
    spark.stop()
  }
}
