package graft

import org.apache.spark.sql.SparkSession

/** Shared session factory for the driver-facing mains (Verify/Bench) and
  * tests. Mirrors the reference's session config (AQE + coalescing + Kryo,
  * /root/reference/processor/streaming_processor.py:66-88) plus the local-mode
  * essentials: shuffle partitions sized to cores (not the 200 default — on a
  * real cluster this is instead handled by AQE coalescing from a higher
  * initial value), UTC session time zone for oracle parity.
  */
object GraftSession {
  def build(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Large streaming state (sessions over millions of users) outgrows the
    // default in-heap HDFS-backed store; RocksDB keeps state off-heap with
    // incremental checkpoints. Opt-in here (local tests don't need it), the
    // default on a real cluster deployment.
    val stateStore =
      if (sys.env.get("SPARK_GRAFT_ROCKSDB").contains("1"))
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
      else "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
    val spark = SparkSession.builder()
      .config("spark.sql.streaming.stateStore.providerClass", stateStore)
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.session.timeZone", "UTC")
      // the events table's ns-precision timestamps exceed TimestampType's µs;
      // read them as raw nanos longs (Tables.events derives ts_sec from them)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // scan-split parallelism note (r13 scale gate): Spark already floors
      // file splits at one per core (spark.sql.files.minPartitionNum
      // defaults to leafNodeDefaultParallelism = cores), so a small file
      // DOES split — but rows land only in the splits holding a ROW-GROUP
      // midpoint. Single-row-group files (DuckDB's 122,880-row default
      // covers every test table ≤ that) therefore run stage-1 on one core
      // regardless of session conf; the fix lives in the data layout
      // (fuzz_data.py's scale variant writes ~32 groups/table) and, for
      // row-explosive operators, in pre-explosion repartitions
      // (Similarity.topKCosine doctrine) — not in a session knob.
      .config("spark.ui.enabled", "false")
      // file: through both Hadoop routes without a chmod/readlink fork per
      // checkpoint, state-store and sink file (see sources.NioRawLocalFileSystem)
      .config("spark.hadoop.fs.file.impl", classOf[graft.sources.NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[graft.sources.NioLocalFs].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SQL-facing custom functions (fvec_dot / fvec_norm); on a cluster the
    // same registration ships as spark.sql.extensions=graft.plans.GraftExtensions
    graft.plans.GraftExtensions.register(spark)
    spark
  }
}
