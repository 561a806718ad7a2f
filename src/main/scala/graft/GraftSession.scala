package graft

import org.apache.spark.sql.SparkSession

/** Single place to build a correctly-configured session.
  *
  * Local mode is `local[N]` for testing, but every knob here is chosen for
  * the 1000-executor case: AQE on (runtime coalescing + skew-join
  * splitting), broadcast threshold left at default so dim tables
  * auto-broadcast, shuffle partitions sized to the local core count
  * (at cluster scale AQE coalesces from a higher initial number).
  */
object GraftSession {
  def apply(appName: String = "graft",
            cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet carries INT64(TIMESTAMP(NANOS)) which Spark's vanilla
      // reader rejects; read as long and convert in Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // snapshot reads pass EXPLICIT file lists from the manifest (no
      // directory walk), so the default threshold of 32 paths launches a
      // pointless distributed listing JOB per scan leg — per-file status
      // on an explicit list is driver-cheap far beyond 32. Genuine
      // directory-discovery scans with thousands of paths still go
      // parallel above this.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "512")
      // Spark 4.1's checkpoint file checksums (new, default-on) spawn a
      // checksum-writer THREAD per state/offset/commit file and park the
      // writing task until it finishes (ChecksumCheckpointFileManager
      // .createWithChecksum → awaitResult); with N concurrent state
      // partitions the handoff serializes every stateful micro-batch —
      // measured on stream_topk at local[32]: state-commit stages of
      // 158 s task run time vs 0.8 s task CPU, all parked on the
      // checksum latch (jstack), 13.0 s → ~5 s wall with the dial off.
      // The cost is per checkpoint FILE, so it scales with state
      // partitions × batches — a cluster pays it too, it is not a
      // local-mode artifact. Checkpoint-corruption detection is a real
      // feature; the env dial restores it for deployments that want the
      // integrity guarantee over the latency.
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled",
        sys.env.getOrElse("SPARK_GRAFT_CKPT_CHECKSUM", "false"))
      // Without libhadoop, Hadoop's local filesystems shell out (`ls`,
      // `chmod`) for permission work — a process fork per file. Two NIO
      // paths remove the forks, one per Hadoop API:
      //  - FileSystem (parquet writes, staging, commits): `fs.file.impl`
      //    swaps in graft.NioLocalFileSystem, which sets permissions with
      //    chmod(2); Hadoop forked `chmod` for every create and mkdirs.
      //  - FileContext (streaming checkpoints): its local fs hard-codes
      //    Hadoop's RawLocalFileSystem and never reads `fs.file.impl`, so
      //    the checkpoint manager is replaced instead (sampled before:
      //    state-commit stages 48 s run / 1.2 s CPU, parked in
      //    forkAndExec). It keeps the temp-file + atomic-rename protocol
      //    via rename(2) and delegates non-file schemes to Spark's
      //    default, so object-store checkpoints are untouched.
      .config("spark.hadoop.fs.file.impl", "graft.NioLocalFileSystem")
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "graft.streaming.NioCheckpointFileManager")
      // InferFiltersFromGenerate adds size(g)>0/isnotnull(g) above every
      // explode; predicate pushdown then substitutes the generator's WHOLE
      // expression into those filters, so an expensive computed array
      // (shingles, token windows) is evaluated 3× per row instead of once
      // (measured 3-10× slowdowns on the dedup family, r8). Every explode
      // input in this library is already pre-filtered by a cheap
      // predicate, so the inferred filters only burn CPU.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
