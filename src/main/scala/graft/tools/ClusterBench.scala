package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry}

/** Real-distribution benchmark: the same query set timed on plain
  * `local[n]` (one JVM — broadcast is a pointer hand-off, shuffle a
  * memory copy) and on `local-cluster[workers,cores,memMB]` (separate
  * executor PROCESSES — real RPC, real broadcast serialization, real
  * netty shuffle fetch). Every perf number before r12 was single-JVM;
  * the cluster/local ratio per query is the first evidence of what the
  * engine's plans pay when distribution is real. A ratio far above the
  * pack means a hidden serialization/broadcast/driver-round-trip cost
  * for that query's shape.
  *
  * Also the spill harness (VERDICT r11 missing #3): with small
  * `memMB`, shuffles/aggregations exceed executor memory and take
  * Spark's spill path; the shared [[ToolListener]] sums
  * `memoryBytesSpilled`/`diskBytesSpilled` per query, and `compare=1`
  * fingerprints each cluster result against the local-mode result
  * (order-independent sum+xor of xxhash64 over all columns) so the
  * spill path is shown to preserve ANSWERS, not just complete.
  *
  * Usage (env pins per memory note: SPARK_HOME=/opt/spark and
  * SPARK_SCALA_VERSION=2.13, or the Worker cannot launch executors):
  *
  * {{{
  * SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
  *   tools/run_verify.sh graft.tools.ClusterBench \
  *   <sfDir> <queriesCsv|headline|spillset> [workers=2] [cores=8] \
  *   [memMB=8192] [passes=2] [compare=0|1]
  * }}}
  */
object ClusterBench {

  /** The headline-18: the scaling-curve set every SCALE artifact uses. */
  private val Headline = Seq(
    "a1_downsample_5m", "a2_preagg_routed", "d2_minhash_sig",
    "d3_lsh_candidates", "d4_jaccard_verify", "d7_dup_clusters",
    "d9_semdedup", "e2e_stream_slice", "p1_curation_pipeline",
    "pql1_rate_sum", "q2_sessionize", "v2_ann_lsh", "w3_rate_1h",
    "x11_tfidf_keywords", "x13_boilerplate_ngrams", "x16_chunk_dedup",
    "x17_quality_probe", "x18_bigram_nll")

  /** The constrained-heap set: the suite's heaviest shuffle/pin shapes. */
  private val SpillSet =
    Seq("d7_dup_clusters", "d9_semdedup", "x17_quality_probe",
      "e2e_stream_slice")

  private val AddOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar")
    .map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" ")

  /** Order-independent distributed fingerprint — no driver collect:
    * wrapping sum + xor of xxhash64 over every column, plus the count.
    * Identical across execution modes iff the rows are identical
    * (doubles hash on their IEEE bits, so this is the same bit-exact
    * standard the DuckDB gate holds).
    */
  private def fingerprint(df: DataFrame): (String, Long, Long) = {
    val h = df.select(xxhash64(df.columns.map(col): _*).as("h"))
    // DECIMAL accumulation: a raw long sum overflows under ANSI mode
    val r = h.agg(sum(col("h").cast("decimal(38,0)")).as("s"),
      expr("bit_xor(h)").as("x"), count(lit(1)).as("c")).head()
    (if (r.isNullAt(0)) "0" else r.getDecimal(0).toPlainString,
      if (r.isNullAt(1)) 0L else r.getLong(1), r.getLong(2))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val qarg = if (args.length > 1) args(1) else "headline"
    val workers = if (args.length > 2) args(2).toInt else 2
    val cores = if (args.length > 3) args(3).toInt else 8
    val memMB = if (args.length > 4) args(4).toInt else 8192
    val passes = if (args.length > 5) args(5).toInt else 2
    val compare = args.length > 6 && args(6) == "1"
    val names = qarg match {
      case "headline" => Headline
      case "spillset" => SpillSet
      case csv => csv.split(",").toSeq
    }
    val totalCores = workers * cores
    // CB_SHUFFLE_PARTS: both modes default to one partition per core,
    // which under-partitions decade-scale aggregates (a 0.25 B-key
    // hash-agg in 32 partitions is ~1 GB of state per task — it spills
    // at ANY executor size). A deployment sizes shuffle partitions to
    // the data, not the core count; the probe must be able to too.
    val shuffleParts = sys.env.get("CB_SHUFFLE_PARTS")
      .map(_.toInt).getOrElse(totalCores)

    val listener = new ToolListener
    import listener.{spillDisk, spillMem}

    /** Per-query min-of-passes timing (pass 0 is untimed warmup), plus
      * the spill bytes and optional fingerprint of the LAST pass.
      */
    def runSuite(spark: SparkSession): Map[String, (Double, Long, Long,
        Option[(String, Long, Long)])] = {
      spark.sparkContext.addSparkListener(listener)
      var out = Map.empty[String, (Double, Long, Long,
        Option[(String, Long, Long)])]
      for (pass <- 0 to passes; name <- names) {
        val fn = SparkEntry.queries(name)
        val m0 = spillMem.get; val d0 = spillDisk.get
        val t0 = System.nanoTime()
        val scope = graft.store.Stage.open()
        // a query that fails in THIS mode (e.g. OOM-killed executor at a
        // constrained heap) records an error fingerprint instead of
        // killing the whole run — the other queries' evidence survives
        val fp =
          try {
            try {
              val df = fn(spark, sfDir)
              if (compare && pass == passes) Some(fingerprint(df))
              else { df.count(); None }
            } finally graft.store.Stage.clear(spark, scope)
          } catch {
            case e: Throwable =>
              System.err.println(s"[cb] $name FAILED pass$pass: " +
                s"${e.getClass.getSimpleName}: " +
                s"${Option(e.getMessage).getOrElse("").take(160)}")
              Some(("ERROR:" + e.getClass.getSimpleName, -1L, -1L))
          }
        val sec = (System.nanoTime() - t0) / 1e9
        val sm = spillMem.get - m0; val sd = spillDisk.get - d0
        System.err.println(f"[cb ${spark.sparkContext.master.take(13)}" +
          f" pass$pass] $name $sec%.2fs spillMem=$sm spillDisk=$sd")
        // passes=0 (single-pass budget mode, no warmup) must still
        // record: the only pass IS the measurement
        if (pass > 0 || passes == 0) {
          val prev = out.get(name)
          out += name -> ((math.min(sec, prev.map(_._1).getOrElse(Double.MaxValue)),
            math.max(sm, prev.map(_._2).getOrElse(0L)),
            math.max(sd, prev.map(_._3).getOrElse(0L)),
            fp.orElse(prev.flatMap(_._4))))
        }
      }
      out
    }

    // CB_CLUSTER_ONLY=1: skip pass A — the fourth-decade CLUSTER probe
    // shape, the dual of CB_LOCAL_ONLY: when the point is whether
    // aggregate executor memory absorbs a shuffle that spills on one
    // JVM, running the (already-recorded) local pass first would both
    // waste an hour and contend for the very RAM the executor heaps
    // need. Emits cluster columns only; the local baseline lives in the
    // prior round's CB_LOCAL_ONLY artifact at the same sfDir.
    val clusterOnly = sys.env.get("CB_CLUSTER_ONLY").contains("1")

    // ---- pass A: single-JVM local[n], same core count ----
    val local: Map[String, (Double, Long, Long, Option[(String, Long, Long)])] =
      if (clusterOnly) Map.empty
      else {
        val sLocal = GraftSession.configure(SparkSession.builder()
          .master(s"local[$totalCores]")
          .config("spark.sql.shuffle.partitions", shuffleParts))
          .getOrCreate()
        sLocal.sparkContext.setLogLevel("ERROR")
        val l = runSuite(sLocal)
        graft.store.Stage.clear(sLocal)
        sLocal.stop()
        // the next SparkSession must not inherit this one's SQL conf/state
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
        l
      }

    // CB_LOCAL_ONLY=1: stop after pass A — the fourth-decade probe
    // shape, where the corpus is big enough that running BOTH modes on
    // one box would halve the memory each gets (and the cluster pass's
    // fixed executor heaps are the first thing to OOM). Emits the same
    // per-query JSON minus the cluster columns.
    if (sys.env.get("CB_LOCAL_ONLY").contains("1")) {
      val rows = names.map { n =>
        val (ls, sm, sd, _) = local(n)
        s""""$n":{"local_sec":$ls,"spill_mem_bytes":$sm,""" +
          s""""spill_disk_bytes":$sd}"""
      }.mkString("{", ",", "}")
      println(s"""{"probe":"cluster_bench_local_only","sf":"$sfDir",""" +
        s""""cores":$totalCores,"passes":$passes,"queries":$rows}""")
      return
    }

    // ---- pass B: real executor processes ----
    val stageDir = Files.createTempDirectory("cb-stage").toString
    // honor the frozen-snapshot classpath (GRAFT_CLASSPATH, same knob
    // run_verify.sh uses): executors lazy-load classes from this dir,
    // and r13 lost a whole sf100 chunk to a compile replacing
    // target/classes under a live cluster — a snapshot dir makes the
    // run immune to concurrent builds
    val classes = sys.env.getOrElse("GRAFT_CLASSPATH",
      "/root/repo/target/scala-2.13/classes")
    val sCluster = GraftSession.configure(SparkSession.builder()
      .master(s"local-cluster[$workers,$cores,$memMB]")
      .config("spark.sql.shuffle.partitions", shuffleParts)
      // local-cluster's third field is WORKER capacity, not executor
      // heap — executors launch at spark.executor.memory (default
      // 1 GB!) and the worker merely checks capacity covers it. Without
      // this line every "memMB" cluster pass actually ran 1 GiB
      // executor heaps: constrained-spill runs were MORE constrained
      // than labeled, and big-memory runs silently starved (caught when
      // the r16 4×24 GB x16 pass OOM-killed executors whose resource
      // profile read 1024 MB).
      .config("spark.executor.memory", s"${memMB}m")
      .config("spark.executor.extraClassPath", classes)
      // NOTE: do NOT cap executor GC threads to the core allotment —
      // measured at sf1000 (r16): -XX:ParallelGCThreads=8 on 24 GB heaps
      // ran x16 1110.7 s vs 652.7 s with the JVM default. The default GC
      // sizing is per-MACHINE, and on local-cluster the heaps are big
      // enough that starving GC costs far more than thread
      // oversubscription does.
      .config("spark.executor.extraJavaOptions", AddOpens)
      .config("graft.stage.dir", stageDir))
      .getOrCreate()
    sCluster.sparkContext.setLogLevel("ERROR")
    val cluster = runSuite(sCluster)
    graft.store.Stage.clear(sCluster)
    sCluster.stop()

    if (clusterOnly) {
      // cluster columns only; `compare=1` records the cluster-side
      // fingerprint verbatim so it can be checked against a prior
      // local artifact (or a later run) offline
      val rows = names.map { n =>
        val (cs, sm, sd, cfp) = cluster(n)
        val fp = cfp.fold("null") { case (s, x, c) =>
          s"""{"sum":"$s","xor":$x,"count":$c}""" }
        s""""$n":{"cluster_sec":$cs,"spill_mem_bytes":$sm,""" +
          s""""spill_disk_bytes":$sd,"fingerprint":$fp}"""
      }.mkString("{", ",", "}")
      println(s"""{"probe":"cluster_bench_cluster_only","sf":"$sfDir",""" +
        s""""workers":$workers,"cores_each":$cores,"exec_mem_mb":$memMB,""" +
        s""""passes":$passes,"queries":$rows}""")
      return
    }

    val rows = names.map { n =>
      val (ls, _, _, lfp) = local(n)
      val (cs, sm, sd, cfp) = cluster(n)
      val cmp =
        if (!compare) "\"skipped\""
        else if (lfp == cfp) "\"match\"" else "\"MISMATCH\""
      s""""$n":{"local_sec":$ls,"cluster_sec":$cs,""" +
        f""""ratio":${cs / ls}%.3f,"spill_mem_bytes":$sm,""" +
        s""""spill_disk_bytes":$sd,"fingerprint":$cmp}"""
    }.mkString("{", ",", "}")
    val mismatches = if (compare) names.count(n =>
      local(n)._4 != cluster(n)._4) else -1
    println(s"""{"probe":"cluster_bench","sf":"$sfDir",""" +
      s""""workers":$workers,"cores_each":$cores,"exec_mem_mb":$memMB,""" +
      s""""passes":$passes,"compare":$compare,""" +
      s""""fingerprint_mismatches":$mismatches,"queries":$rows}""")
    if (compare && mismatches > 0) sys.exit(1)
  }
}
