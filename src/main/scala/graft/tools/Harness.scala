package graft.tools

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What every graft main and the test suite share: the session config,
  * the timed noop-sink run, the release of pinned RDDs, the host bracket,
  * artifact provenance, and the JSON string escaper. */
object Harness {

  /** `SPARK_GRAFT_CPUS`, else `default`. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)

  /** local[cpus] with graft's extensions, cpus shuffle partitions, AQE,
    * UTC, no UI, WARN logging. */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.expr.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drop every persisted/localCheckpointed RDD. Each run pins its own
    * frames, so a prior run's blocks are storage carryover, never reuse;
    * blocking, so the next measurement does not overlap the release. */
  def release(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  /** Wall seconds of one run of `df` through the noop sink (`count()`
    * would let Catalyst prune the work being measured). The release
    * after it is not timed, and happens on failure too. */
  def timeNoop(spark: SparkSession)(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    try {
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    } finally release(spark)
  }

  def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
  }

  /** (hypervisor steal jiffies, 1-min loadavg). Steal is /proc/stat
    * field 8, whole machine, USER_HZ=100. Unreadable (non-Linux):
    * (0, -1.0), the sentinel telling "couldn't read" from an idle host. */
  def host(): (Long, Double) = try {
    val cpu = Files.readString(Paths.get("/proc/stat")).linesIterator
      .find(_.startsWith("cpu ")).get.trim.split("\\s+")
    val load = Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
    (if (cpu.length > 8) cpu(8).toLong else 0L, load)
  } catch { case scala.util.control.NonFatal(_) => (0L, -1.0) }

  /** `"commit":…,"cpus":…,"xmx_mb":…` for an artifact's JSON object. */
  def provenance(cpus: Int): String = {
    val commit =
      try scala.sys.process.Process(Seq("git", "rev-parse", "--short", "HEAD")).!!.trim
      catch { case scala.util.control.NonFatal(_) => "unknown" }
    s""""commit":${json(commit)},"cpus":$cpus,"xmx_mb":${Runtime.getRuntime.maxMemory >> 20}"""
  }

  /** JSON string literal: escapes quote, backslash and every control
    * char, so free-form text (SQL, exception messages) never breaks a
    * downstream `json.load`. */
  def json(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def appendLine(path: String, line: String): Unit =
    Files.writeString(Paths.get(path), line + "\n",
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
}
