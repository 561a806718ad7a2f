package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** One benchmark workload. Inputs come from the seed only. */
trait Workload {
  /** Builds (and where the workload starts from a loaded mirror, loads)
    * the inputs. Called several times so set-up time is a median; each
    * call replaces the inputs of the previous one.
    */
  def setup(rep: Int): Unit
  /** One measured unit of the workload's script. */
  def pass(p: Int): Unit
  /** Untimed correctness gates over the final state. */
  def verify(): Unit
  def close(): Unit = ()
  /** Extra fields for the result file. */
  def extra: Map[String, Any] = Map.empty
}

/** Runs one workload and writes its raw measurements as JSON.
  *
  * Args: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --out <file> [--cores <n>]`. Workload `train` runs one
  * set-up and one pass of every workload and writes no result.
  */
object Main {
  val SetupReps = 3

  val Workloads = Seq("release_load", "release_sync", "changefeed_mirror", "corpus_dedup")

  private def workload(name: String, spark: SparkSession, rec: Recorder, work: Path,
                       seed: Long): Workload = name match {
    case "release_load"      => new ReleaseLoad(spark, rec, work, seed)
    case "release_sync"      => new ReleaseSync(spark, rec, work, seed)
    case "changefeed_mirror" => new ChangefeedMirror(spark, rec, work, seed)
    case "corpus_dedup"      => new CorpusDedup(spark, rec, work, seed)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  private def timedS(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val name = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val work = Paths.get(o("work")).toAbsolutePath
    val cores = o.getOrElse("cores", Runtime.getRuntime.availableProcessors.toString)
    Files.createDirectories(work)

    var spark: SparkSession = null
    val sessionS = timedS { spark = GraftSession("graftbench", cores) }
    val rec = new Recorder(spark, traced)
    if (name == "train") {
      // loads the classes every workload needs, for the JVM's class-data archive
      try Workloads.foreach { n =>
        val wl = workload(n, spark, rec, work.resolve(n), seed)
        try { wl.setup(1); wl.pass(-1) } finally wl.close()
      } finally spark.stop()
      return
    }
    val wl = workload(name, spark, rec, work, seed)
    try {
      val setupS = (1 to SetupReps).map(i => timedS(wl.setup(i)))
      rec.beginPass(-1, traced = false)
      val warmupS = timedS(wl.pass(-1))
      rec.endPass(warmupS)
      rec.reset()

      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      val minPasses = if (traced) 2 else 1
      var p = 0
      while (p < minPasses || System.nanoTime() < deadline) {
        // a traced run alternates untraced and traced passes, so the
        // tracing overhead is measured inside one run
        rec.beginPass(p, traced && p % 2 == 1)
        val t0 = System.nanoTime()
        rec.span("pass")(wl.pass(p))
        rec.endPass((System.nanoTime() - t0) / 1e9)
        p += 1
      }
      wl.verify()

      val result = Map(
        "workload" -> name, "seed" -> seed, "cores" -> cores.toInt,
        "session_s" -> sessionS, "setup_reps_s" -> setupS, "warmup_s" -> warmupS,
        "passes" -> rec.passes, "samples" -> rec.samples, "work" -> rec.work,
        "attempted" -> rec.attempted, "failed" -> rec.failed,
        "failures" -> rec.failures,
        "gates" -> rec.gates.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
        "spans" -> rec.spans.map { s =>
          Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "pass" -> s.pass,
            "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_s" -> s.durNs / 1e9,
            "attrs" -> s.attrs, "counters" -> rec.spanCounters(s))
        },
        "stream_batches" -> rec.streamBatches.map { case (rows, d) =>
          Map("rows" -> rows, "duration_ms" -> d)
        },
        "extra" -> wl.extra)
      Files.write(Paths.get(o("out")), Json(result).getBytes(UTF_8))
    } finally {
      try wl.close() finally spark.stop()
    }
  }
}
