package graft

import graft.sources.{GraftLocalFileSystem, LocalFs}
import org.apache.spark.sql.SparkSession

/** One place to build the engine's SparkSession with scale-sane
  * defaults: AQE on (runtime re-plan, skew-join splitting, partition
  * coalescing), shuffle partitions sized to the local core count
  * instead of the 200 default, UTC timezone for oracle parity.
  *
  * On a real cluster the same knobs apply — only master/memory change;
  * shuffle partitions would be sized to cluster cores × 2-3.
  */
object GraftSession {
  def builder(appName: String = "graft", cores: Int = defaultCores): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // AQE's default 1 MB coalescing floor collapses every sub-MB
      // shuffle to ONE partition, serializing whole post-shuffle stages
      // (windows, candidate joins) onto a single core at small inputs —
      // measured: q44 2.48→1.48 s, q215 2.91→1.25 s at sf0.1 with a
      // 64 KB floor. Scale-safe: once a shuffle carries real volume the
      // parallelismFirst/advisory sizing (bytes ÷ cluster parallelism,
      // 64 MB advisory) dominates and this floor is never the binding
      // constraint — it only governs the tiny-shuffle regime.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // driver testdata writes events.ts as parquet TIMESTAMP(NANOS),
      // which Spark 4 rejects by default; read as long nanos instead
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // graft adds no session artifacts, so per-session isolation buys
      // nothing; with it on, every forked or cloned session (one per
      // stream run, see StreamOps.withStreamShuffle) gets its own
      // classloader, and Spark's generated-class cache, keyed by
      // (classloader, code), compiled sq2's 8 classes on every run
      .config("spark.sql.artifact.isolation.enabled", "false")
      // `file:` without a forked chmod/readlink per file (sources/LocalFs)
      .config(LocalFs.conf)

  /** Local parallelism: `SPARK_GRAFT_CPUS` if set, else every core. */
  def defaultCores: Int = parseCores(sys.env.get("SPARK_GRAFT_CPUS"))

  private[graft] def parseCores(raw: Option[String]): Int =
    parsePositive("SPARK_GRAFT_CPUS", raw, Runtime.getRuntime.availableProcessors())

  /** A positive-integer setting: `default` when unset; a set value that
    * is not a whole number >= 1 fails fast with a message naming the
    * variable and the value. */
  private[graft] def parsePositive(name: String, raw: Option[String],
      default: => Int): Int = raw match {
    case None => default
    case Some(v) => v.trim.toIntOption.filter(_ >= 1).getOrElse(
      throw new IllegalArgumentException(s"$name='$v' is not an integer >= 1"))
  }

  /** A setting with a fixed set of values, matched ignoring case:
    * `default` when unset; any other value fails fast with a message
    * naming the variable, the value and the values it takes. */
  private[graft] def parseChoice[T](name: String, raw: Option[String],
      choices: (String, T)*)(default: => T): T = raw match {
    case None => default
    case Some(v) => choices.collectFirst { case (k, t) if k.equalsIgnoreCase(v.trim) => t }
      .getOrElse(throw new IllegalArgumentException(
        s"$name='$v' is not one of ${choices.map(_._1).mkString(", ")}"))
  }

  /** [[parsePositive]] over the environment variable `name`. */
  def envPositive(name: String, default: Int): Int =
    parsePositive(name, sys.env.get(name), default)

  def getOrCreate(appName: String = "graft"): SparkSession = {
    val s = builder(appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    registerFunctions(s)
    warnIfStaleLocalFs(s)
    s
  }

  /** One WARN when `FileSystem.get(file:///)` is not graft's class: an
    * earlier non-graft configuration in this JVM left a stock instance
    * in Hadoop's JVM-wide cache, which ignores `fs.file.impl`. Answers
    * do not depend on it; only the forked `chmod`/`readlink` per file
    * comes back. */
  private def warnIfStaleLocalFs(s: SparkSession): Unit = {
    val found = org.apache.hadoop.fs.FileSystem.get(
      java.net.URI.create("file:///"), s.sparkContext.hadoopConfiguration).getClass
    if (found != classOf[GraftLocalFileSystem])
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"file:/// is served by a cached ${found.getName}, not " +
          s"${classOf[GraftLocalFileSystem].getName}: local writes fork a process per file")
  }

  /** Expose the engine's custom Catalyst expressions to SQL — the
    * `spark.sql(...)` API surface — for ad-hoc sessions built without
    * `spark.sql.extensions=graft.GraftExtensions` (cluster deployments
    * use the extensions path; both read the same definition list, see
    * [[GraftExtensions.functions]]). */
  def registerFunctions(s: SparkSession): Unit = {
    val reg = s.sessionState.functionRegistry
    GraftExtensions.functions.foreach { case (name, _, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
