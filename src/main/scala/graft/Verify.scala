package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. An optional
  * third arg (comma-separated names) restricts the dump to a subset for
  * quick iteration; the driver's 2-arg contract is unchanged. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.lift(2)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // Input-split sizing for the scaled single-file fixtures (r15): the
      // sf10 tree is one 8 MB-row-group parquet file per table, and the
      // 128 MB default packs a whole 60 MB text table into ONE scan task
      // — every explode stage (trigrams, shingles, BM25) then runs
      // single-threaded however many cores the session has. 100 TB
      // corpora arrive as thousands of files; the sandbox equivalent is
      // sizing splits to the compressed bytes whose EXPLODED work fills
      // a task (set 4-8m for testdata-sf10 runs; the driver's gate-scale
      // fixtures are unaffected by the 128m default).
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_MAX_PARTITION_BYTES", "128m"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet stores ts as TIMESTAMP(NANOS); read as epoch-nanos
      // Long (Shapes.eventTimeMs handles both representations).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(spark)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // repartition(1), NOT coalesce(1): coalesce is a narrow dependency,
      // so it would collapse every stage back to the last shuffle into
      // the single write task — at sf10 that single-threaded the heavy
      // queries' final aggregates (r15: d_adaptive_jaccard_pairs spent
      // 48 CPU-min in one task). The round-trip shuffle on the (small,
      // post-filter) result keeps upstream parallelism and still lands
      // one part-file per query.
      try fn(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // The oracle dumps are NEVER filtered by the subset arg (r17): a
    // fast-iteration subset re-run into a dir holding a full sweep must
    // refresh that one query's parquet without truncating the oracle
    // map — otherwise the dir silently stops being a full-sweep record
    // (measured: the r17 sf1 pin was voided exactly this way before the
    // fix). Dumping all texts is free; the checkers iterate over the
    // parquet dirs present, so a subset dir still checks only its subset.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Bounded scale-oracle overrides (tools/check_scale.py): for the
    // queries whose equality oracles are infeasible at sf1, the sidecar
    // carries violation/composed checks so the 10x pass verifies every
    // query inside budget. check.py ignores this file; the gate-scale
    // contract is unchanged.
    val scaleJson = graft.operators.ScaleOracles.checks
      .map { case (k, c) =>
        val setup = c.setup.map(q).mkString("[", ",", "]")
        s"${q(k)}: {${q("mode")}: ${q(c.mode)}, ${q("sql")}: ${q(c.sql)}," +
          s" ${q("aux")}: ${q(c.aux)}, ${q("setup")}: $setup}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/scale_oracle_sql.json"), scaleJson)
    spark.stop()
  }
}
