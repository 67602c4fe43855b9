package graft.tools

/** State-partition sizing probe for the streaming interval-join leg:
  * every shuffle partition of a stateful query holds state-store instances
  * paying per-micro-batch checkpoint + maintenance cost, so partition
  * count — locked at query start — is the first-order knob. Measured
  * (sf0.1 events, 4 micro-batches) on the stream-stream join form, which
  * kept 4 state stores per partition: 8 partitions ~10-14 s, 32 ~35 s,
  * 64 ~44 s (local[32]). On a 4-vCPU VM (local[4], warm 2nd/3rd legs):
  * that form 2 partitions 6.4-6.6 s, 4 7.5-12.5 s, 32 ~26 s; the
  * one-operator form `StreamingExtract.intervalJoinStream` runs now
  * (1 state store per partition) 2 partitions 4.0-5.0 s, 4 4.5-5.6 s,
  * 8 5.6-6.0 s, 32 11.3 s.
  *
  * Honors SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS like Bench.main.
  * Run: java ... graft.tools.StreamLegProbe <statePartitions> [rocksdb]
  */
object StreamLegProbe {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: StreamLegProbe <statePartitions> [rocksdb]")
      sys.exit(2)
    }
    val parts = args(0).toInt
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Bench.session(cpus)
    // remaining args: 'rocksdb' shorthand, or raw spark conf 'key=value'
    // pairs — lets one binary sweep provider / no-data batches / format
    // validation / checkpoint location without recompiling
    args.drop(1).foreach {
      case "rocksdb" =>
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      case kv if kv.contains('=') =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k, v)
      case other => System.err.println(s"ignoring unknown arg: $other")
    }
    spark.sparkContext.setLogLevel("ERROR")
    val t = graft.Bench.streamingIntervalJoinLeg(spark, sfDir, stateParts = parts)
    println(f"parts=$parts secs=$t%.2f")
    val t2 = graft.Bench.streamingIntervalJoinLeg(spark, sfDir, stateParts = parts)
    println(f"parts=$parts secs2=$t2%.2f")
    val t3 = graft.Bench.streamingIntervalJoinLeg(spark, sfDir, stateParts = parts)
    println(f"parts=$parts secs3=$t3%.2f")
    spark.stop()
  }
}
