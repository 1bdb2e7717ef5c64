package graftbench

import graft.{GraftSession, Main, SparkEntry}
import graft.model.EngineConf
import graft.operators.PlanCache
import graft.sources.Generator
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.{Callable, Executors, TimeUnit, TimeoutException}
import scala.collection.mutable

/** One benchmark run inside one JVM: session start, input preparation,
  * an untimed warm pass, the timed passes, and a raw record file that
  * run.py turns into metrics. The engine is reached only through its
  * public functions (SparkEntry, Main.produce/consume, Generator,
  * PlanCache.allStats, GraftSession).
  *
  * Arguments are `--key value` pairs:
  *   --kind entries|serde  --sf DIR  --work DIR  --out FILE
  *   --entries a,b,c       canonical entry list (warm pass order)
  *   --orders  a,b;b,a     one comma list per timed pass
  *   --fresh 0|1           copy the inputs afresh before every pass
  *   --passes N --msgs N --warm-msgs N   serde passes and messages per leg
  *   --seed N --trace 0|1 --deadline S
  * An op that runs longer than `OpTimeoutS` is cancelled and fails.
  */
object Harness {

  val OpTimeoutS = 60.0

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(a("work"))
    val trace = a.getOrElse("trace", "0") == "1"
    val deadline = System.nanoTime() + (a.getOrElse("deadline", "150").toDouble * 1e9).toLong
    val spark = Tracer.SessionConf
      .foldLeft(GraftSession.builder("graftbench")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.registerFunctions(spark)
    val h = new Harness(spark, work, trace, deadline)
    val record =
      try {
        if (a("kind") == "serde")
          h.runSerde(a("passes").toInt, a("msgs").toLong, a("warm-msgs").toLong, a("seed").toLong)
        else
          h.runEntries(a("entries").split(",").toSeq,
            a.getOrElse("orders", "").split(";").toSeq.filter(_.nonEmpty).map(_.split(",").toSeq),
            Paths.get(a("sf")), a.getOrElse("fresh", "0") == "1")
      } finally h.shutdown()
    Files.writeString(Paths.get(a("out")), toJson(record ++ Map(
      "peak_rss_kb" -> vmHwmKb(), "cores" -> spark.sparkContext.defaultParallelism)))
    spark.stop()
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def toJson(v: Any): String = mapper.writeValueAsString(v)

  /** VmHWM of this process, in kB (0 when /proc is unavailable). */
  def vmHwmKb(): Long = scala.util.Try {
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
  }.getOrElse(0L)

  def epochMs(): Double = System.currentTimeMillis().toDouble

  def copyTree(src: Path, dst: Path): Unit = {
    Files.createDirectories(dst)
    Files.list(src).forEach { f =>
      Files.copy(f, dst.resolve(f.getFileName.toString), StandardCopyOption.REPLACE_EXISTING)
    }
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = mutable.ArrayBuffer.empty[Path]
    Files.walk(p).forEach(f => all += f)
    all.reverseIterator.foreach(f => Files.deleteIfExists(f))
  }

  def treeBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    var n = 0L
    Files.walk(p).forEach(f => if (Files.isRegularFile(f) && f.toString.endsWith(".parquet")) n += Files.size(f))
    n
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

final class Harness(spark: SparkSession, work: Path, trace: Boolean, deadlineNs: Long) {
  import Harness._

  private val pool = Executors.newSingleThreadExecutor { (r: Runnable) =>
    val t = new Thread(r, "graftbench-op"); t.setDaemon(true); t
  }
  private val tracer = new Tracer(spark)
  private var traced = false
  private var nextOp = 0
  private var passedDeadline = false

  def shutdown(): Unit = pool.shutdownNow()

  /** Run one op on the op thread under a job group, with a timeout.
    * Returns the op record: status ok|threw|timeout|skipped, wall
    * seconds, and, in a traced pass, the op's counters. */
  private def op(pass: Int, entry: String)(body: => Unit): mutable.Map[String, Any] = {
    val id = nextOp
    nextOp += 1
    val rec = mutable.Map[String, Any]("op" -> id, "pass" -> pass, "entry" -> entry,
      "traced" -> traced)
    if (passedDeadline || System.nanoTime() > deadlineNs) {
      passedDeadline = true
      rec ++= Map("status" -> "skipped", "wall_s" -> 0.0)
      return rec
    }
    val group = s"graftbench-$id"
    if (traced) tracer.beginOp(id)
    val fut = pool.submit(new Callable[Double] {
      def call(): Double = {
        spark.sparkContext.setJobGroup(group, entry, interruptOnCancel = true)
        try {
          val t0 = System.nanoTime()
          span("op", entry)(body)
          (System.nanoTime() - t0) / 1e9
        } finally spark.sparkContext.clearJobGroup()
      }
    })
    try {
      rec ++= Map("status" -> "ok", "wall_s" -> fut.get((OpTimeoutS * 1e9).toLong, TimeUnit.NANOSECONDS))
    } catch {
      case _: TimeoutException =>
        spark.sparkContext.cancelJobGroup(group)
        spark.streams.active.foreach(q => scala.util.Try(q.stop()))
        scala.util.Try(fut.get(30, TimeUnit.SECONDS))
        rec ++= Map("status" -> "timeout", "wall_s" -> OpTimeoutS)
      case e: java.util.concurrent.ExecutionException =>
        val c = Option(e.getCause).getOrElse(e)
        rec ++= Map("status" -> "threw", "wall_s" -> 0.0,
          "error" -> s"${c.getClass.getName}: ${String.valueOf(c.getMessage).take(300)}")
    }
    if (traced) rec ++= tracer.endOp()
    rec
  }

  private def span[T](kind: String, name: String)(body: => T): T =
    if (traced) tracer.span(kind, name)(body) else body

  private def setTraced(on: Boolean): Unit = if (on != traced) {
    if (on) tracer.attach() else tracer.detach()
    traced = on
  }

  /** A traced run's passes go untraced (settling, not compared),
    * untraced, traced, traced, untraced, so the overhead of tracing is
    * read off the same run with warm-up drift cancelled. */
  private def tracedPass(p: Int): Boolean = p == 2 || p == 3

  private def traceRecord(): Map[String, Any] =
    if (!trace) Map.empty else Map("spans" -> tracer.allSpans.map(_.toMap))

  // ---------------------------------------------------------------- entries

  /** Batch and streaming entries: an op is `SparkEntry.queries(name)`
    * (the build, which may run eager jobs or a whole AvailableNow
    * stream) followed by a noop-sink write of its result (the exec).
    * The warm pass writes each result to parquet for the oracle check.
    * With `fresh`, every timed pass reads its own new copy of the
    * inputs, made outside the timed window. */
  def runEntries(entries: Seq[String], orders: Seq[Seq[String]], sf: Path,
      fresh: Boolean): Map[String, Any] = {
    val fns = entries.map(n => n -> SparkEntry.queries.getOrElse(n,
      throw new IllegalArgumentException(s"unknown entry $n"))).toMap
    val inputs = work.resolve("input")
    val checked = inputs.resolve("c0")
    copyTree(sf, checked)
    val outDir = work.resolve("out")
    val warm = entries.map { n =>
      op(-1, n) {
        fns(n)(spark, checked.toString).coalesce(1).write.mode("overwrite")
          .parquet(outDir.resolve(n).toString)
      }
    }
    val setupEnd = epochMs()
    val copies = mutable.ArrayBuffer.empty[Double]
    val passStats = mutable.ArrayBuffer.empty[Map[String, Any]]
    val ops = orders.zipWithIndex.flatMap { case (order, p) =>
      val dir =
        if (!fresh) checked
        else {
          val c0 = System.nanoTime()
          val d = inputs.resolve(s"c${p + 1}")
          copyTree(sf, d)
          copies += (System.nanoTime() - c0) / 1e9
          d
        }
      setTraced(trace && tracedPass(p))
      val before = PlanCache.allStats
      val rs = span("pass", s"pass $p") {
        order.map { n =>
          op(p, n) {
            val df = span("build", n)(fns(n)(spark, dir.toString))
            span("exec", n)(noop(df))
          }
        }
      }
      setTraced(false)
      val after = PlanCache.allStats
      passStats += Map("pass" -> p,
        "artifact_builds" -> after.map { case (k, v) => v._2 - before.get(k).map(_._2).getOrElse(0L) }.sum,
        "artifact_hits" -> after.map { case (k, v) => v._1 - before.get(k).map(_._1).getOrElse(0L) }.sum)
      if (fresh && p > 0) deleteTree(inputs.resolve(s"c$p"))
      rs
    }
    val oracles = oracleSql(entries, checked.toString)
    Files.writeString(work.resolve("oracle_sql.json"), toJson(oracles))
    Map("kind" -> "entries", "setup_end_ms" -> setupEnd, "input_copy_s" -> copies.toSeq,
      "checked_input" -> checked.toString, "out_dir" -> outDir.toString,
      "warm" -> warm.map(_.toMap), "ops" -> ops.map(_.toMap),
      "passes" -> passStats.toSeq) ++ traceRecord()
  }

  /** The oracle SQL for the run's entries, derived the way graft.Verify
    * derives it: the static `oracleSql` text, except q41, whose oracle
    * is re-derived at the inputs' adaptive LSH geometry when the static
    * geometry does not hold there. */
  private def oracleSql(entries: Seq[String], dir: String): Map[String, String] = {
    val static = SparkEntry.oracleSql.filter { case (k, _) => entries.contains(k) }
    if (!static.contains("q41_ann_lsh")) static
    else if (scala.util.Try(graft.llmops.VectorOps.q41OracleGeometryHolds(spark, dir)).getOrElse(false))
      static
    else graft.llmops.VectorOps.q41SqlAdaptive(spark, dir) match {
      case Some(sql) => static + ("q41_ann_lsh" -> sql)
      case None => static - "q41_ann_lsh"
    }
  }

  // ------------------------------------------------------------------ serde

  /** The reference's produce/consume legs through `graft.Main` on the
    * offline path. A pass runs produce_{avro,json}, then consume in
    * E2E_PARSE and TRANSPORTE mode. A traced pass adds the cumulative
    * legs the serde layer split is read from (gen, encode, produce with
    * codec none, noop read). */
  def runSerde(passes: Int, msgs: Long, warmMsgs: Long, seed: Long): Map[String, Any] = {
    val conf = EngineConf(totalMensagens = msgs, tamanhoMensagemKB = 1, numParticoes = 18,
      consumerThreads = 18, benchMode = "E2E_PARSE", compressionType = "lz4",
      warmupMensagens = 0, seed = seed)
    val topics = work.resolve("topics")
    val plain = work.resolve("topics_none")
    def fmt(avro: Boolean) = if (avro) "avro" else "json"

    def leg(pass: Int, name: String)(df: => DataFrame): Map[String, Any] = {
      var report: Seq[String] = Nil
      val r = op(pass, name) { report = df.toJSON.collect().toSeq }
      (r ++ Map("report" -> report)).toMap
    }
    def rawLeg(pass: Int, name: String)(body: => Unit): Map[String, Any] = op(pass, name)(body).toMap

    def e2ePass(pass: Int, conf: EngineConf): Seq[Map[String, Any]] = {
      val prod = Seq(true, false).map { avro =>
        leg(pass, s"produce_${fmt(avro)}")(Main.produce(spark, conf, topics.toString, avro)) ++
          Map("stored_bytes" -> treeBytes(topics.resolve(s"messages_raw_${fmt(avro)}")))
      }
      val cons = for {
        mode <- Seq("E2E_PARSE", "TRANSPORTE")
        avro <- Seq(true, false)
      } yield {
        val name = (if (mode == "TRANSPORTE") "transport_" else "consume_") + fmt(avro)
        leg(pass, name)(Main.consume(spark, conf.copy(benchMode = mode), topics.toString, avro))
      }
      prod ++ cons
    }

    def splitLegs(pass: Int): Seq[Map[String, Any]] = {
      def msgs = Generator.messages(spark, conf)
      val gen = rawLeg(pass, "gen") {
        noop(msgs.select("chave", "particao", "sequencia", "timestamp", "sucesso",
          "id", "versao", "dados"))
      }
      val enc = Seq(true, false).map { avro =>
        rawLeg(pass, s"encode_${fmt(avro)}") {
          noop(if (avro) Generator.rawAvro(msgs) else Generator.rawJson(msgs))
        }
      }
      val none = Seq(true, false).map { avro =>
        leg(pass, s"produce_none_${fmt(avro)}")(
          Main.produce(spark, conf.copy(compressionType = "none"), plain.toString, avro))
      }
      gen +: (enc ++ none)
    }

    def readLegs(pass: Int): Seq[Map[String, Any]] = Seq(true, false).map { avro =>
      rawLeg(pass, s"read_${fmt(avro)}") {
        noop(spark.read.parquet(topics.resolve(s"messages_raw_${fmt(avro)}").toString))
      }
    }

    // the warm pass runs every leg once (code generation, JIT) on fewer
    // messages; its reports are checked against its own count
    val warm = e2ePass(-1, conf.copy(totalMensagens = warmMsgs))
    val setupEnd = epochMs()
    val ops = (0 until passes).flatMap { p =>
      setTraced(trace && tracedPass(p))
      val rs =
        if (!traced) e2ePass(p, conf)
        else span("pass", s"pass $p")(splitLegs(p) ++ e2ePass(p, conf) ++ readLegs(p))
      setTraced(false)
      rs
    }
    Map("kind" -> "serde", "msgs" -> msgs, "warm_msgs" -> warmMsgs, "setup_end_ms" -> setupEnd,
      "warm" -> warm, "ops" -> ops) ++ traceRecord()
  }
}
