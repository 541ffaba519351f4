package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Interactive (small-input) execution path.
  *
  * Spark's default execution shape is built for cluster-scale inputs:
  * AQE materializes every exchange as its own job (stage stats, re-plan,
  * scheduling — ~40ms each in local mode), and shuffles fan out to
  * `spark.sql.shuffle.partitions` tasks. For a query whose entire input
  * is a few MB, those fixed costs ARE the query: a 6-exchange dedup plan
  * pays ~6 jobs × ~40ms against ~20ms of actual row work. The reference
  * engine has no such floor (single process, no per-stage scheduling), so
  * ad-hoc queries over small stores measure 5-10× slower here on
  * orchestration alone.
  *
  * The fix mirrors what vectorized single-node engines do when the input
  * fits in one morsel — drop the parallel machinery: queries whose LEAF
  * input size (file bytes under every scanned relation) is below
  * [[MaxInteractiveInputBytes]] execute on a per-root memoized child
  * session (`root.newSession()` — same SparkContext, shared codegen and
  * file-status caches) configured with
  *
  *   - `spark.sql.adaptive.enabled=false` — the whole DAG runs as ONE
  *     job: no per-exchange stage jobs, no runtime re-plans. AQE's
  *     coalescing/skew value is zero below the threshold by construction.
  *   - `spark.sql.shuffle.partitions=8` — every exchange collapses to a
  *     handful of reduce tasks (8, not 1: window/join exec still wants a
  *     few-way spread — see the inline note); scan-side parallelism
  *     (file splits) is untouched.
  *   - `spark.sql.leafNodeDefaultParallelism=1` — range/local leaves stop
  *     fanning 1-row inputs across 32 slices.
  *
  * Queries at or above the threshold keep the root session untouched:
  * at 100 TB every relation is orders of magnitude past the threshold,
  * so this path simply never triggers there — it is strictly an
  * interactive-floor optimization, decided per query from the same
  * file-size statistics the scan planner already has.
  *
  * Thread-safety: the child's conf is written once at creation and never
  * mutated afterwards, so concurrent server queries can share it.
  */
object Sessions {
  /** Below this many bytes of leaf input (compressed file size), a query
    * routes to the interactive session. 32 MiB ≈ 150-300 MB
    * decompressed ≈ the point where one scan task's work exceeds the
    * orchestration overhead it saves. */
  val MaxInteractiveInputBytes: Long = 32L << 20

  private val memo = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, SparkSession]())

  private val INTERACTIVE_TAG = "spark.graft.interactive"

  /** The memoized interactive child of `root` (identity when `root`
    * already is one — routing must not nest sessions). */
  def interactive(root: SparkSession): SparkSession =
    if (root.conf.getOption(INTERACTIVE_TAG).contains("true")) root
    else memo.computeIfAbsent(root, _ => {
      val s = root.newSession()
      s.conf.set(INTERACTIVE_TAG, "true")
      s.conf.set("spark.sql.adaptive.enabled", "false")
      // 8, not 1: exchange-side work (windows over stream groups, joins)
      // still wants a few-way spread — 8 reduce tasks cost ~10ms of task
      // floor but parallelize the exec of window-heavy small queries ~4×
      // (q_stream_context warm 139ms at 1 vs ~40ms spread). Still one
      // job, still no AQE stage machinery. The r14 re-check (c9e8baa):
      // widths 4/2 gain ~10-20% on FRESH mid-tail runs but
      // regress the WARM plan-cache path the serving layer lives on —
      // q_lql_topk warm 0.07s→0.35s at width 2 (final-stage top-k work
      // single-threads). 8 stays.
      s.conf.set("spark.sql.shuffle.partitions", "8")
      s.conf.set("spark.sql.leafNodeDefaultParallelism", "1")
      // spread SCAN-side work: small tables come as handfuls of sub-MB
      // files (Tables.parallelized / LogStore day parts), and the default
      // 128 MiB packing bin re-merges them into ONE task — which then
      // single-threads the per-row kernels (JSON unpack, shingles) that
      // dominate these queries. A 2 MiB bin with a 1 MiB per-file open
      // cost packs ~1-2 small files per task: measured 2× on the
      // scan-heavy entries (ip_bucket 234→126ms, sort_prank 220→111ms)
      // while multi-stage pipelines were unaffected (FloorProbe12).
      s.conf.set("spark.sql.files.maxPartitionBytes", String.valueOf(2L << 20))
      s.conf.set("spark.sql.files.openCostInBytes", String.valueOf(1L << 20))
      // ObjectHashAggregate's 128-group sort fallback exists to bound
      // memory at cluster scale; under the interactive threshold the
      // whole input is a few MB, so the spill path is pure overhead for
      // the typed-imperative aggs (capped-collect, value collation).
      s.conf.set(
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1048576")
      // joins: auto-broadcast STAYS ON here — an experiment replacing
      // planner-chosen broadcasts with shuffled joins (threshold -1 +
      // preferSortMergeJoin=false) to save the per-build job floor made
      // every measured query SLOWER (q_dsir 6→9 jobs, q_sim_pq_recall
      // 5→7.2, q_embed_neardup spiked to 7s): the compiler's 1-row
      // rollup crossJoins degrade to cartesian shapes that recompute the
      // inner subplan per outer partition, and the builds reappear as
      // shuffle stages anyway. Measured, rejected (OPTIMIZATION_r14.md).
      // planning-cost trims, all semantics-free at interactive sizes:
      // constraint propagation is O(tree²) inference that exists to push
      // derived filters into big scans; DPP and runtime bloom filters
      // only pay off against large partitioned fact tables.
      s.conf.set("spark.sql.constraintPropagation.enabled", "false")
      s.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "false")
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      // every action posts an execution-start event carrying the full
      // explain string — for the dedup kernels' literal-heavy trees that
      // string is O(100KB) and costs 10-50ms to render. Truncate on this
      // path (UI is the only consumer; latency is the product here).
      s.conf.set("spark.sql.maxPlanStringLength", "4096")
      functions.GraftFunctions.register(s)
      s
    })

  private val streamMemo = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[Int, SparkSession]]())

  /** Bytes of input per streaming state-store instance (override with
    * `spark.graft.streaming.stateBytesPerPartition`). Each state partition
    * is a per-micro-batch fixed cost — an instance open + delta write +
    * commit on EVERY batch, whether or not a row landed there — so the
    * instance count must follow data volume, not the session's batch
    * shuffle width: 32 instances over a few-MB tail is pure overhead paid
    * per batch, while at 100 TB the same rule saturates to the cluster's
    * configured parallelism. */
  def streamStatePartitions(root: SparkSession, inputBytes: Long): Int = {
    val perPart = root.conf
      .getOption("spark.graft.streaming.stateBytesPerPartition")
      .map(_.toLong).getOrElse(8L << 20)
    val rootParts = root.conf.get("spark.sql.shuffle.partitions", "200").toInt
    math.max(1L, math.min(rootParts.toLong,
      inputBytes / math.max(perPart, 1L))).toInt
  }

  /** Child session for batch-bounded streaming drives: `n` state
    * partitions (state-store instances), AQE off (inapplicable to the
    * stateful micro-batch plan, and the drive's follow-up agg over the
    * tiny memory-sink table must not pay AQE stage-job machinery), local
    * leaves un-fanned. Memoized per (root, n); conf written once. */
  def streamingDrive(root: SparkSession, n: Int): SparkSession =
    streamMemo
      .computeIfAbsent(root, _ => new java.util.concurrent.ConcurrentHashMap())
      .computeIfAbsent(n, _ => {
        val s = root.newSession()
        s.conf.set("spark.sql.adaptive.enabled", "false")
        s.conf.set("spark.sql.shuffle.partitions", n.toString)
        s.conf.set("spark.sql.leafNodeDefaultParallelism", "1")
        s.conf.set("spark.sql.maxPlanStringLength", "4096")
        // planning-cost trims, same argument as the interactive session:
        // a stateful drive re-plans its whole DAG EVERY micro-batch
        // (IncrementalExecution — measured ~100-120ms/batch of the
        // ~650ms drive), and constraint propagation / DPP / runtime
        // bloom filters only pay off against large partitioned scans
        // with joins, which a micro-batch plan here never has
        s.conf.set("spark.sql.constraintPropagation.enabled", "false")
        s.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "false")
        s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
        functions.GraftFunctions.register(s)
        s
      })

  private val boundedMemo = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[Int, SparkSession]]())

  /** Child session enforcing `options(concurrency=n)` (parser.go:307 —
    * the reference bounds per-query worker goroutines): every exchange
    * and leaf fans out to at most n partitions, and the compiler caps
    * scan-side tasks with coalesce(n). Memoized per (root, n); conf is
    * written once, so concurrent queries can share it. */
  def bounded(root: SparkSession, n: Int): SparkSession =
    boundedMemo
      .computeIfAbsent(root, _ => new java.util.concurrent.ConcurrentHashMap())
      .computeIfAbsent(n, _ => {
        val s = root.newSession()
        s.conf.set("spark.graft.bounded", n.toString)
        s.conf.set("spark.sql.shuffle.partitions", n.toString)
        s.conf.set("spark.sql.leafNodeDefaultParallelism", n.toString)
        functions.GraftFunctions.register(s)
        s
      })

  /** Total bytes under `dir`, resolved through the Hadoop FileSystem API
    * so the answer is right on ANY filesystem the path lives on — the
    * previous java.io.File recursion returned 0 for every non-local
    * scheme (HDFS/S3), which collapsed the streaming drives to one state
    * partition at exactly the scale where they need many. Missing paths
    * and resolution failures report 0 (no data → minimum parallelism). */
  def pathInputBytes(spark: SparkSession, dir: String): Long =
    try {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    } catch { case _: Exception => 0L }

  /** Total file bytes under the plan's leaf relations. Unknown leaves
    * report conf.defaultSizeInBytes (Long.MaxValue) and so force the
    * parallel path — the conservative direction. */
  def leafInputBytes(df: DataFrame): BigInt =
    df.queryExecution.analyzed.collectLeaves()
      .map(l => l.stats.sizeInBytes).sum

  /** Build `mk` on the interactive child when its leaf input is under
    * the threshold, on `root` otherwise. The probe build happens on the
    * child so the common (small) case constructs exactly one plan. */
  def route(root: SparkSession)(mk: SparkSession => DataFrame): DataFrame = {
    val df = mk(interactive(root))
    if (leafInputBytes(df) <= MaxInteractiveInputBytes) df else mk(root)
  }
}
