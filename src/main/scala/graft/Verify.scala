package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.defs result → parquet, in
  * declared order, plus oracle_sql.json, for the DuckDB compare
  * (`tools/check_oracle.py`). The session is the engine's own (GraftSession), so the
  * oracle gate runs under the config Bench and graft.Main use.
  *
  * Usage: `runMain graft.Verify <sfDir> <outDir> [name,name,...]` — the
  * optional third argument dumps only the named entries; without it
  * every entry is dumped. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val entries = args.lift(2).fold(SparkEntry.defs)(a => SparkEntry.select(a.split(",").toSeq))
    val spark = GraftSession.getOrCreate("graft-verify")
    new java.io.File(outDir).mkdirs()
    entries.foreach { d =>
      // on stderr, so a log warning can be attributed to its entry
      System.err.println(s"[verify] ${d.name}")
      try d.run(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${d.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${d.name} failed: ${e.getMessage}")
      }
    }
    // geometry-tracking oracle for q41: the static oracleSql text
    // encodes the FIXED RecallPlanes LSH geometry, which equals q41's
    // n-adaptive planesFor(n) only at the sf0.01 gate. At any other
    // SF, substitute the SAME pipeline re-interpolated at the
    // fixture's own adaptive plane count (round 11 — previously the
    // oracle was skipped above the gate, the surface's one exception).
    // Partial fixture dirs (the adversarial sweep's events-only /
    // text-only corpora) carry no embeddings table — there the oracle
    // drops and the driver records a rows-only check.
    val oracles =
      if (scala.util.Try(graft.llmops.VectorOps.q41OracleGeometryHolds(spark, sfDir))
            .getOrElse(false))
        SparkEntry.oracleSql
      else graft.llmops.VectorOps.q41SqlAdaptive(spark, sfDir) match {
        case Some(sql) =>
          System.err.println(
            s"[verify] q41 oracle re-derived at the adaptive geometry for $sfDir")
          SparkEntry.oracleSql + ("q41_ann_lsh" -> sql)
        case None =>
          System.err.println(
            s"[verify] q41 oracle skipped: no embeddings table at $sfDir")
          SparkEntry.oracleSql - "q41_ann_lsh"
      }
    val json = oracles
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
