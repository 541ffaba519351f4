package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, ShortType}

/** Deduplication for training-data pipelines: exact, MinHash+LSH, SimHash,
  * n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale notes (100 TB): signatures are pure Column expressions computed in
  * the scan stage; the only shuffles are the LSH band groupBy (keys are
  * band hashes — uniform, no skew) and the candidate-pair join (candidate
  * sets are tiny relative to the corpus). No O(n²) step ever materializes.
  */
object Dedup {

  /** Exact dedup: keep the first row per key (deterministic by tiebreaker). */
  def exact(df: DataFrame, keyCols: Seq[String], tiebreaker: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(tiebreaker))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Word n-gram shingles of `text`. */
  /** Distinct word n-gram shingles — codegen'd single-pass kernel
    * (functions/Shingles.scala), value-identical to the HOF tower
    * `array_distinct(transform(sequence(...), i => concat_ws(" ",
    * slice(tokens, i+1, n))))` it replaced (differential-tested). */
  def shingles(text: Column, n: Int): Column =
    graft.functions.Shingles.shingles(text, n)

  /** MinHash signature: for each of `numHashes` seeded hash functions, the
    * min hash over the shingle set. Pure expression — no shuffle; a
    * codegen'd single-pass kernel (functions/MinHashSim.scala) replaces
    * the 128-seed higher-order-function tower, hashing each shingle once
    * and mixing per seed (bit-identical values, property-tested). */
  def minhashSignature(text: Column, n: Int, numHashes: Int): Column =
    graft.functions.MinHashSim.minhashSig(shingles(text, n), numHashes)

  /** Estimated Jaccard from two signatures: fraction of agreeing positions. */
  def signatureJaccard(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / size(a)

  /** MinHash + LSH banding: near-duplicate candidate pairs with estimated
    * Jaccard >= threshold.
    *
    * numHashes = bands * rowsPerBand. Collision probability for a pair with
    * true Jaccard s is 1-(1-s^rows)^bands (standard LSH S-curve).
    */
  private val sigCache = scala.collection.mutable.LinkedHashMap
    .empty[(org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
            String, String, Int, Int), DataFrame]
  private val MaxSigEntries = 8

  /** Memoized MinHash signature table: signatures depend only on the
    * corpus and (shingleSize, numHashes) — re-thresholding or re-banding
    * the same corpus (the common tuning loop) reuses them instead of
    * recomputing a full shingle+hash pass. Keyed by the canonicalized
    * plan, bounded, unpersist-on-evict (the IVF cache pattern). */
  private def minhashSigs(df: DataFrame, textCol: String, idCol: String,
                          shingleSize: Int, numHashes: Int): DataFrame =
    synchronized {
      val key = (df.queryExecution.optimizedPlan.canonicalized,
        textCol, idCol, shingleSize, numHashes)
      sigCache.get(key) match {
        case Some(s) => s
        case None =>
          val s = df.select(col(idCol).as("id"),
              minhashSignature(col(textCol), shingleSize, numHashes).as("sig"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          sigCache.put(key, s)
          while (sigCache.size > MaxSigEntries) {
            val (oldKey, oldS) = sigCache.head
            oldS.unpersist(blocking = false)
            sigCache.remove(oldKey)
          }
          s
      }
    }

  def minhashLSH(df: DataFrame, textCol: String, idCol: String,
                 shingleSize: Int = 3, numHashes: Int = 128, bands: Int = 32,
                 threshold: Double = 0.7,
                 maxBucketSize: Int = 10000): DataFrame = {
    // banding math lives in MinHashSim.bandHashesEval (rows-per-band =
    // numHashes / bands); make the divisibility contract explicit here
    // instead of silently ignoring trailing hashes
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be a multiple of bands ($bands)")
    // signatures computed once, memoized — both the band explode and the
    // per-side re-attach below read them (id + numHashes longs per row)
    val sigs = minhashSigs(df, textCol, idCol, shingleSize, numHashes)
    // the band table carries IDS ONLY — not the full signature on both
    // sides of an exploded 32× join (that would shuffle sig arrays 64×).
    // One codegen'd kernel emits all band bucket ids per row (band index
    // folded into the hash seed, so a single long is the bucket key — no
    // per-band string render of the signature slice, which dominated the
    // candidate pass at 500k docs)
    val bandRows = sigs
      .select(col("id"),
        explode(graft.functions.MinHashSim.bandHashes(col("sig"), bands))
          .as("band_hash"))
    // cap pathological buckets (identical-doc clusters make one bucket
    // quadratic): drop buckets above maxBucketSize — their members are
    // still paired via exact dedup / their other, smaller bands.
    // Candidate pairs are generated LOCALLY inside each bucket (all i<j
    // combinations of the sorted member list) — the identical pair set to
    // a bucket self-join, without re-shuffling and sorting the band table
    // twice through a SortMergeJoin. Fan-out per bucket is bounded by
    // maxBucketSize²/2, the same bound the join plan had.
    // ONE-PASS bucket build (r15, the ngramJaccard shape): a single
    // groupBy gathers each bucket's member ids AND its exact size via the
    // capped-collect aggregate ([[graft.functions.CappedIds]]) — the
    // exploded band table is shuffled exactly once, where the previous
    // two-phase shape (codegen'd COUNT → broadcast semi-join → collect)
    // shuffled it twice and paid a broadcast build job. Per-group state
    // stays bounded at maxBucketSize+1 regardless of how hot a bucket is,
    // so the skew bound is unchanged; buckets whose exact count passes
    // the [2, maxBucketSize] gate have complete member arrays by
    // construction (count <= maxBucketSize < cap). Measured r15: one
    // fewer corpus-scale exchange + 2 fewer stages per run at every SF,
    // and at 500k docs the one-pass bucket build+pairing runs 2.3s vs the
    // two-phase's 3.6-5.2s with identical pair sets
    // (tools/MinhashShapeProbe on RAM shuffle scratch — this sandbox's
    // disk stalls for seconds at a time and otherwise drowns the A/B; the
    // ObjectHashAggregate sort-based fallback past 128 hash-map groups is
    // real but cheaper than the second exchange + semi-join it replaces).
    val buckets = bandRows.groupBy("band_hash")
      .agg(graft.functions.CappedIds
        .idsWithCount(col("id"), maxBucketSize + 1).as("r"))
      .filter(col("r._2").between(2, maxBucketSize))
      .select(array_sort(col("r._1")).as("ids"))
    // two chained Generates (posexplode the members, then explode each
    // member's tail slice): the cross-product streams row-by-row and the
    // per-row state is one bucket array — never the ~n²/2 pair structs a
    // single flatten(transform(...)) would materialize as one in-memory
    // array before its Generate iterates (executor-OOM risk at the
    // maxBucketSize cap)
    val candidates = buckets
      .select(posexplode(col("ids")).as(Seq("i", "id_a")), col("ids"))
      .select(col("id_a"),
        explode(slice(col("ids"), col("i") + lit(2), size(col("ids")))).as("id_b"))
      // duplicate id VALUES in the corpus sort adjacent and would emit
      // (x, x) self-pairs here; the old self-join's strict id_a < id_b
      // excluded them
      .filter(col("id_a") =!= col("id_b"))
      .distinct()
    // re-attach signatures only for the (small) candidate set
    candidates
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        signatureJaccard(col("sig_a"), col("sig_b")).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** 64-bit SimHash over word tokens (per-bit majority of token hashes);
    * codegen'd single-pass kernel, bit-identical to the zip_with bit-vote
    * tower it replaced (property-tested). */
  def simhash(text: Column): Column =
    graft.functions.MinHashSim.simhash64(TextAnalysis.tokens(text))

  /** SimHash near-dup candidates: split the 64-bit hash into `bands` chunks;
    * pairs agreeing on any chunk are candidates (Hamming-adjacent dups agree
    * on at least one chunk when distance < bands). */
  def simhashCandidates(df: DataFrame, textCol: String, idCol: String,
                        bands: Int = 4,
                        maxBucketSize: Int = 10000): DataFrame = {
    val bits = 64 / bands
    val withSh = df.select(col(idCol).as("id"), simhash(col(textCol)).as("sh"))
      .withColumn("chunk", explode(transform(sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("chunk_idx"),
          call_function("shiftright", col("sh"), b * bits)
            .bitwiseAND((1L << bits) - 1).as("chunk_val")))))
      .select(col("id"), col("sh"), col("chunk.chunk_idx"), col("chunk.chunk_val"))
    // same pathological-bucket cap as minhashLSH: exact duplicates share
    // ALL chunk values, so a mass-duplicate corpus (the very thing dedup
    // targets) would make one chunk bucket quadratic — 100k copies of a
    // boilerplate page is 4×10^10 candidate pairs without the cap. Members
    // of a dropped bucket still pair via their other chunks when those
    // buckets are below the cap, and exact dedup catches identical docs.
    // Pairs are generated locally per bucket (sorted i<j combinations —
    // same pair set as the old bucket self-join without the double
    // shuffle+sort; sorting (id, sh) pairs orders by id, ids unique per
    // bucket). ONE-PASS bucket build (r15, the ngramJaccard shape): a
    // single groupBy gathers each chunk bucket's (id, sh) members AND its
    // exact size via the capped-collect aggregate — one corpus-scale
    // exchange instead of the old count → broadcast semi-join → collect
    // two-phase (which scanned the corpus twice and shuffled it twice).
    // Per-group state stays bounded at maxBucketSize+1; a bucket passing
    // the [2, maxBucketSize] gate has a complete member array.
    val buckets = withSh.groupBy("chunk_idx", "chunk_val")
      .agg(graft.functions.CappedIds
        .pairsWithCount(col("id"), col("sh"), maxBucketSize + 1).as("r"))
      .filter(col("r._2").between(2, maxBucketSize))
      .select(array_sort(col("r._1")).as("ms"))
    // two chained Generates, not one flattened pair array (see minhashLSH)
    buckets
      .select(posexplode(col("ms")).as(Seq("i", "a")), col("ms"))
      .select(col("a"),
        explode(slice(col("ms"), col("i") + lit(2), size(col("ms")))).as("b"))
      .select(col("a._1").as("id_a"), col("b._1").as("id_b"),
        bit_count(col("a._2").bitwiseXOR(col("b._2"))).as("hamming"))
      // exclude (x, x) self-pairs from duplicate id values (the old
      // self-join's strict id_a < id_b did)
      .filter(col("id_a") =!= col("id_b"))
      .distinct()
  }

  /** Exact n-gram Jaccard similarity for all pairs above `threshold`,
    * via an inverted shingle index (shingle → docs) — the scalable exact
    * counterpart to MinHash verification. */
  /** Shingles above `maxDocFreq` document frequency (stop-phrases) are
    * removed from the index AND from the per-doc counts, so the reported
    * value is the exact Jaccard over the remaining discriminative shingles
    * — without the cutoff, one frequent shingle joins every doc pair and
    * the self-join explodes quadratically. */
  def ngramJaccard(df: DataFrame, textCol: String, idCol: String,
                   n: Int = 3, threshold: Double = 0.5,
                   maxDocFreq: Int = 10000): DataFrame = {
    // Aggregate-only plan — no windows, no index self-join, and the
    // exploded corpus is shuffled exactly ONCE: a single groupBy(g) with
    // a capped-collect aggregate ([[graft.functions.CappedIds]]) gathers
    // each bucket's member ids AND its exact doc frequency in one pass.
    // Stop-phrase buckets over `maxDocFreq` are dropped on the exact
    // count (their id arrays were capped at maxDocFreq+1 and never
    // consumed), so per-group state is bounded regardless of how hot a
    // shingle is. The previous shape counted first, then RE-JOINED the
    // exploded corpus against the surviving counts — two corpus-scale
    // shuffles plus a corpus-scale join; at 100 TB that join is the
    // dominant cost, here it simply doesn't exist. Candidate pairs are
    // generated LOCALLY inside each surviving bucket (all i<j
    // combinations of the sorted id list), then rolled up by pair with a
    // partial agg; per-doc post-cutoff counts re-derive from the compact
    // index (bucket-count scale, not corpus scale).
    // Skew note: per-bucket fan-out stays bounded by maxDocFreq²/2 —
    // corpus-scale deployments set the knob low (stop-phrase df).
    val exploded = df
      .select(col(idCol).as("id"), explode(shingles(col(textCol), n)).as("g"))
    val gAgg = exploded.groupBy("g")
      .agg(graft.functions.CappedIds.idsWithCount(col("id"), maxDocFreq + 1).as("r"))
      .select(col("r._1").as("ids"), col("r._2").as("__df"))
      .filter(col("__df") <= maxDocFreq)
    // per-doc size of the POST-cutoff shingle set (stop-phrases leave
    // the counts too, keeping the reported value an exact Jaccard);
    // singleton buckets (df = 1) matter here even though they can't pair
    val perDoc = gAgg.select(explode(col("ids")).as("id"))
      .groupBy("id").agg(count(lit(1)).as("sh_count"))
    // sorted ids make combination pairs come out with id_a < id_b
    val buckets = gAgg.filter(col("__df") >= 2)
      .select(array_sort(col("ids")).as("ids"))
    // two chained Generates, not one flattened pair array (see minhashLSH)
    val pairs = buckets
      .select(posexplode(col("ids")).as(Seq("i", "id_a")), col("ids"))
      .select(col("id_a"),
        explode(slice(col("ids"), col("i") + lit(2), size(col("ids")))).as("id_b"))
      // exclude (x, x) self-pairs from duplicate id values (the old
      // self-join's strict id_a < id_b did)
      .filter(col("id_a") =!= col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("common"))
    pairs
      .join(perDoc.select(col("id").as("id_a"), col("sh_count").as("ca")), Seq("id_a"))
      .join(perDoc.select(col("id").as("id_b"), col("sh_count").as("cb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (col("common").cast("double") /
          (col("ca") + col("cb") - col("common"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Benchmark decontamination: corpus docs sharing at least `minShared`
    * distinct word `n`-grams with ANY benchmark text are flagged (the
    * standard pre-training hygiene pass — eval sets must not leak into
    * training data). Returns (id, shared) for contaminated docs.
    *
    * Scale shape: the benchmark shingle set is distinct-deduped and tiny
    * next to the corpus, so Catalyst broadcasts it into the corpus-side
    * scan — one pass over the corpus, no corpus-side shuffle beyond the
    * final per-doc count. Long n (default 8) makes stop-phrase collisions
    * statistically negligible. */
  def contaminated(docs: DataFrame, textCol: String, idCol: String,
                   bench: DataFrame, benchTextCol: String,
                   n: Int = 8, minShared: Int = 1): DataFrame = {
    val docSh = docs.select(col(idCol).as("id"),
      explode(shingles(col(textCol), n)).as("g"))
    val benchSh = bench
      .select(explode(shingles(col(benchTextCol), n)).as("g"))
    // LEFT SEMI: existence-match means duplicate shingles on the bench
    // side can't multiply rows, so the bench set needs no distinct
    // exchange — and docSh is per-doc distinct (shingles() dedups), so
    // the per-doc count is exactly "distinct n-grams shared"
    docSh.join(benchSh, Seq("g"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Connected components over an undirected edge list — the alternating
    * large-star/small-star algorithm (Kiveris et al., "Connected Components
    * in MapReduce and Beyond", SoCC'14). Turns pairwise near-dup candidates
    * (e.g. [[minhashLSH]] output) into cluster ids so a whole duplicate
    * CLUSTER collapses to one representative — pairwise keep-first alone
    * can't do that when dups form chains (a~b, b~c, a!~c).
    *
    * Returns (id, component) for every node appearing in `pairs`, where
    * component = min node id of the connected component.
    *
    * Scale shape: each round is two shuffles (a groupBy-min and a re-join),
    * no collect_list of neighborhoods (high-degree nodes never materialize
    * their adjacency in one task), and the edge set provably converges to
    * component stars in O(log n) rounds. Lineage is truncated per round via
    * localCheckpoint so the plan doesn't grow with iteration count (on a
    * real cluster with an HA requirement, swap in reliable checkpointing).
    */
  // memoized component map per (session, candidate-pair plan, cols): like
  // the k-means cells and the MinHash signature table, the id→component
  // map is precomputed corpus state — a repeated cluster-dedup over the
  // same candidate set must not re-run the union-find / star rounds.
  // Keyed by the canonicalized plan itself (structural equality) AND the
  // owning SparkSession: a cached DataFrame is bound to the session that
  // built it, and a plan-equal call from a fresh session after a restart
  // must not be handed a result on a stopped context. The family caveat
  // shared with the sibling caches applies: plans canonicalize by
  // paths+schema, not file contents — overwriting a path in place and
  // re-running serves the old result (ingest/compaction never mutate a
  // path's meaning in place; external callers doing so should not rely on
  // same-JVM memoization). Eviction drops the strong reference, which is
  // all a localCheckpoint result needs to become ContextCleaner-collectable
  // (there is no persist() handle to unpersist, unlike sigCache's).
  private val ccCache = scala.collection.mutable.LinkedHashMap
    .empty[(org.apache.spark.sql.SparkSession,
            org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
            String, String, Int, Long), DataFrame]
  private val MaxCcEntries = 8

  def connectedComponents(pairs: DataFrame, idACol: String = "id_a",
                          idBCol: String = "id_b",
                          maxIter: Int = 25,
                          maxLocalEdges: Long = 2000000L): DataFrame = {
    val key = (pairs.sparkSession,
      pairs.queryExecution.optimizedPlan.canonicalized,
      idACol, idBCol, maxIter, maxLocalEdges)
    // NOT computed under the object lock: the union-find / star rounds run
    // real jobs for minutes at scale, and holding Dedup's monitor would
    // serialize every concurrent dedup call in the JVM (minhashSigs
    // synchronizes on the same object, but only to BUILD a lazy plan).
    // Two racing misses may both compute; last insert wins — benign.
    synchronized { ccCache.get(key) } match {
      case Some(v) => v
      case None =>
        val v = connectedComponentsImpl(pairs, idACol, idBCol, maxIter,
          maxLocalEdges)
        synchronized {
          while (ccCache.size >= MaxCcEntries) ccCache.remove(ccCache.head._1)
          ccCache.put(key, v)
        }
        v
    }
  }

  private def connectedComponentsImpl(pairs: DataFrame, idACol: String,
                          idBCol: String,
                          maxIter: Int,
                          maxLocalEdges: Long): DataFrame = {
    // canonical big→small orientation, no self-loops / nulls. LAZILY
    // checkpointed up front: the first action — the driver-gate probe
    // below — materializes it, so when the probe overflows into the
    // distributed path, round 1 reads the persisted edges instead of
    // re-deriving the whole upstream candidate pipeline a second time
    // (an eager checkpoint here would instead cost a dedicated
    // materialization job before the probe).
    var e = pairs
      .filter(col(idACol).isNotNull && col(idBCol).isNotNull &&
        col(idACol) =!= col(idBCol))
      .select(greatest(col(idACol), col(idBCol)).as("a"),
        least(col(idACol), col(idBCol)).as("b"))
      .distinct()
      .localCheckpoint(eager = false)

    // size gate, like the engine's broadcast gates: a SMALL edge set pays
    // more in star-round scheduler jobs (2 shuffles + a probe per round ×
    // O(log n) rounds) than a driver union-find costs outright — ids-only
    // pairs at the gate are ≤ ~32 MB, the size class broadcasts already
    // trust the driver with. Numeric ids only (driver comparison must
    // match Spark's least/greatest collation exactly; numeric types are
    // the only ones where that equivalence is trivially safe). Big graphs
    // — billions of LSH candidate edges at 100 TB — stay on the
    // distributed star-forest loop below.
    val idType = e.schema.head.dataType
    val numericId = idType == LongType || idType == IntegerType ||
      idType == ShortType
    // one probe job, not three (count + checkpoint + collect): collect
    // max+1 rows — if the limit is hit the graph is "big" and the rows are
    // discarded; if not, these ARE the edges and no second pass runs
    // a gate at or above Int.MaxValue-1 cannot collect its sentinel row
    // (limit() is Int-bounded), so the overflow check would silently pass
    // on a truncated edge sample — treat it as "always distributed"
    val probed: Option[Array[org.apache.spark.sql.Row]] =
      if (!numericId || maxLocalEdges >= Int.MaxValue.toLong - 1) None
      else {
        val rows = e.limit((maxLocalEdges + 1).toInt).collect()
        if (rows.length <= maxLocalEdges) Some(rows) else None
      }
    if (probed.isDefined) {
      def asLong(v: Any): Long = v match {
        case l: java.lang.Long => l
        case i: java.lang.Integer => i.toLong
        case s: java.lang.Short => s.toLong
      }
      val edges = probed.get
      val parent = new java.util.HashMap[Long, Long]()
      def find(x0: Long): Long = {
        var r = x0
        while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
        var c = x0 // path compression
        while (parent.getOrDefault(c, c) != r) {
          val nx = parent.get(c); parent.put(c, r); c = nx
        }
        r
      }
      val nodes = new java.util.HashSet[Long]()
      edges.foreach { row =>
        val a = asLong(row.get(0)); val b = asLong(row.get(1))
        nodes.add(a); nodes.add(b)
        val ra = find(a); val rb = find(b)
        if (ra != rb) {
          if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
        }
      }
      import scala.jdk.CollectionConverters._
      val spark = pairs.sparkSession
      import spark.implicits._
      return nodes.asScala.toSeq.map(n => (n, find(n)))
        .toDF("id", "component")
        .select(col("id").cast(idType).as("id"),
          col("component").cast(idType).as("component"))
    }

    // large-star: ∀u, m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u), v > u.
    // No distinct here — small-star's final distinct dedups the round.
    def largeStar(edges: DataFrame): DataFrame = {
      val und = edges.union(edges.select(col("b").as("a"), col("a").as("b")))
      val mins = und.groupBy("a").agg(min("b").as("mn"))
        .select(col("a"), least(col("a"), col("mn")).as("m"))
      und.join(mins, "a").filter(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b"))
    }
    // small-star: edges oriented u > v; ∀u, m = min(N⁻(u));
    // emit (v, m) for v ∈ N⁻(u) ∪ {u}
    def smallStar(edges: DataFrame): DataFrame = {
      val mins = edges.groupBy("a").agg(min("b").as("mn"))
      val leaves = edges.join(mins, "a")
        .select(col("b").as("a"), col("mn").as("b"))
      val centers = mins.select(col("a"), col("mn").as("b"))
      leaves.union(centers).filter(col("a") =!= col("b")).distinct()
    }

    // fixed point ⇔ the edge set is a star forest rooted at component
    // minima (canonical big→small orientation makes roots the minima), i.e.
    // no node appears as both a parent (b side) and a child (a side).
    // Checking this directly detects convergence one full round earlier
    // than comparing consecutive edge-set fingerprints.
    def isStarForest(edges: DataFrame): Boolean =
      edges.alias("x").join(edges.alias("y"),
        col("x.b") === col("y.a"), "left_semi").isEmpty

    // (the edge set is already checkpointed above — largeStar reads its
    // input several times, and without the checkpoint the upstream
    // LSH/shingle pipeline re-derived per read: measured 40s of re-LSH on
    // a 100k-doc corpus before a single star round ran)

    // no upfront check: a round applied to an already-converged star forest
    // is the identity, so always running round 1 is safe and saves a job
    // on the (typical) non-converged input
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // lazy checkpoint: the star-forest probe right below is the first
      // action and materializes it — an eager checkpoint would run the
      // round's plan as its own extra job first
      e = smallStar(largeStar(e)).localCheckpoint(eager = false)
      converged = isStarForest(e)
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds")
    // fixed point = stars: every edge is (node, componentMin); roots (the
    // component minima) appear only on the b side — map them to themselves
    e.select(col("a").as("id"), col("b").as("component"))
      .union(e.select(col("b").as("id"), col("b").as("component")))
      .distinct()
  }

  /** Cluster-level near-dup removal: LSH candidate pairs → connected
    * components → keep the min-id row of each cluster (plus every row that
    * was never a candidate). Returns `df` columns + `component`. */
  def dedupClusters(df: DataFrame, textCol: String, idCol: String,
                    shingleSize: Int = 3, numHashes: Int = 128,
                    bands: Int = 32, threshold: Double = 0.7): DataFrame = {
    val pairs = minhashLSH(df, textCol, idCol, shingleSize, numHashes,
      bands, threshold)
    val cc = connectedComponents(pairs)
    df.join(cc.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("component", coalesce(col("component"), col(idCol)))
      .filter(col(idCol) === col("component"))
  }

  /** Exact-substring duplicate spans (the ExactSubstr setup of Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499, at token-window granularity): a `k`-token window
    * occurring in at least `minDocs` DISTINCT documents is a duplicated
    * span. Returns one row per document with at least `k` tokens:
    * (id, n_windows, dup_windows, dup_fraction) — the C4/RefinedWeb-style
    * gate drops documents whose dup_fraction exceeds a budget.
    *
    * Scale shape: the window explode is ~one narrow row per token (id +
    * 64-bit window hash — the hash, not the string, is what shuffles), the
    * doc-frequency count groups by uniform hashes (no skew), and the
    * per-doc rollup left-joins windows against the (corpus-duplicated-only)
    * frequent set. Nothing is quadratic; nothing collects. */
  def duplicateSpans(df: DataFrame, textCol: String, idCol: String,
                     k: Int = 8, minDocs: Int = 2): DataFrame = {
    require(k > 0 && minDocs >= 2, s"need k > 0, minDocs >= 2; got k=$k minDocs=$minDocs")
    spanRollup(df, textCol, idCol, k, chars = false, minDocs)
  }

  /** Shared tail of the token/char duplicate-span ops. The in-doc
    * (id, h) rollup happens INSIDE the window kernel
    * (Shingles.windowHashCounts emits per-doc (h, reps) pairs in the
    * same pass that rolls the hashes), so the plan's FIRST exchange
    * partitions by h — one fewer shuffle+aggregate than the earlier
    * explode→groupBy(id,h) shape at every scale. Doc frequency counts
    * rolled ROWS per h (= distinct documents containing the window —
    * in-doc repetition is not cross-doc duplication) via an AGGREGATE +
    * equi-join, not a window over h: a window serializes each h
    * partition, and hot windows are the NORM in the data this op exists
    * for (boilerplate shared by large corpus fractions), while the
    * aggregate partial-combines map-side and AQE's skew-join splits the
    * join's hot h partitions. The docFreq count goes through a predicate
    * on BOTH non-key columns so the optimizer cannot column-prune that
    * branch's copy of the rollup into a structurally different subtree —
    * with the forced dependence the join input and the aggregate input
    * are the identical exchange and ReuseExchange shuffles it once
    * (a regression of this was caught at 84b350e). The predicate is
    * always true (__reps >= 1 by construction, id never null), so the
    * semantics are exactly count(*). */
  private def spanRollup(df: DataFrame, textCol: String, idCol: String,
                         k: Int, chars: Boolean, minDocs: Int): DataFrame = {
    val wins = df.select(col(idCol).as("id"),
        explode(graft.functions.Shingles.windowHashCounts(
          coalesce(col(textCol), lit("")), k, chars)))
      .select(col("id"), col("key").as("h"), col("value").as("reps"))
    // the kernel already made (id, h) unique, so this aggregate's partial
    // side is pass-through — but its OUTPUT is the one exchange subtree
    // both the docFreq branch and the join branch consume (a bare row
    // shuffle on one side and a partial-agg shuffle on the other can
    // never canonicalize equal, so dropping this re-rollup made the
    // corpus scan + kernel run TWICE). One scan + one shared exchange
    // beats saving the degenerate aggregate at every scale.
    val rolled = wins.groupBy("id", "h").agg(sum("reps").as("__reps"))
    val docFreq = rolled.groupBy("h")
      .agg(count(when(col("__reps") >= 1, lit(1))).as("__docs"))
    rolled.join(docFreq, Seq("h"))
      .groupBy("id")
      .agg(sum("__reps").as("n_windows"),
           sum(when(col("__docs") >= minDocs, col("__reps"))
             .otherwise(0L)).as("dup_windows"))
      .withColumn("dup_fraction",
        col("dup_windows").cast("double") / col("n_windows"))
  }

  /** Char-level ExactSubstr duplicate spans — the literature-faithful
    * variant of [[duplicateSpans]]: Lee et al. operate on the character
    * stream (suffix arrays over bytes), so windows here are every
    * k-CODE-POINT span of the raw text, hashed by an O(n) rolling kernel
    * (functions/Shingles.scala graft_char_windows — per-window hashing
    * would be O(n·k)). Same one-scan skew-robust plan as the token
    * variant (see [[spanRollup]]). Returns (id, n_windows, dup_windows,
    * dup_fraction). */
  def duplicateSpanChars(df: DataFrame, textCol: String, idCol: String,
                         k: Int = 50, minDocs: Int = 2): DataFrame = {
    require(k > 0 && minDocs >= 2,
      s"need k > 0, minDocs >= 2; got k=$k minDocs=$minDocs")
    spanRollup(df, textCol, idCol, k, chars = true, minDocs)
  }

  /** C4-style duplicated-unit removal WITH document reassembly (C4,
    * Raffel et al. arXiv:1910.10683 §2.2 drops any three-sentence span
    * occurring more than once in the corpus; Dolma and RefinedWeb do the
    * same at paragraph granularity). Unlike [[duplicateSpans]], which
    * only FLAGS spans, this rewrites each document: it is segmented into
    * non-overlapping `k`-token units ([[TextAnalysis.chunkDocuments]]
    * segmentation — real corpora would split on newlines/sentences, but
    * the unit-frequency/reassembly machinery is identical), a unit is
    * dropped when its exact text occurs in ≥ `minDocs` distinct
    * documents, and the survivors are re-joined in document order.
    *
    * Returns (idCol, n_units, n_dropped, kept_text). Documents that
    * segment to zero units (empty text) produce no output row.
    *
    * Scale shape: the corpus-wide doc-frequency shuffle carries
    * (id, xxhash64) pairs — never unit text; the per-unit join is
    * hash-keyed (C4 itself deduplicates on hashes) and hot units are
    * handled by the aggregate's map-side partial combine + AQE skew
    * splits, the [[spanRollup]] argument. The reassembly collect_list is
    * bounded by units-per-document (~tokens/k), not corpus size. */
  def paragraphDedup(df: DataFrame, textCol: String, idCol: String,
                     k: Int = 3, minDocs: Int = 2): DataFrame = {
    require(k > 0 && minDocs >= 2,
      s"need k > 0, minDocs >= 2; got k=$k minDocs=$minDocs")
    val units = TextAnalysis.chunkDocuments(
        df.select(col(idCol), col(textCol)), textCol, chunkTokens = k)
      .select(col(idCol), col("chunk_idx"), col("chunk_text"),
        xxhash64(col("chunk_text")).as("__h"))
    // distinct docs per unit: dedupe (id, h) then count rows per h —
    // aggregate, not COUNT(DISTINCT) (partial-combined). The freq branch
    // re-explodes the corpus but column pruning narrows it to (id, hash)
    // before its exchange — the duplicateSpans trade: bounded extra map
    // work, never a Window over a hot unit hash (forcing one shared
    // full-width exchange via repartition was tried and Catalyst rightly
    // prunes the branches apart, defeating ReuseExchange)
    val docFreq = units.select(col(idCol), col("__h")).distinct()
      .groupBy("__h").agg(count(lit(1)).as("__df"))
    val dropped = col("__df") >= minDocs
    units.join(docFreq, Seq("__h"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_units"),
        sum(when(dropped, 1L).otherwise(0L)).as("n_dropped"),
        // survivors back in document order; the when() maps dropped units
        // to null and collect_list skips nulls, so no post-filter needed
        array_join(transform(array_sort(collect_list(
          when(!dropped, struct(col("chunk_idx").as("i"), col("chunk_text").as("t"))))),
          u => u("t")), " ").as("kept_text"))
  }

  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", arXiv:2303.09540): k-means
    * cluster the embedding space, then within each cluster drop every row
    * whose cosine similarity to a LOWER-id cluster mate reaches
    * `threshold` — semantic (not lexical) dedup whose quadratic work is
    * bounded to cluster mates, never an all-pairs product. `k` should grow
    * with corpus size so cluster sizes stay bounded (the paper uses
    * k ≈ √n·c). Returns the surviving rows of `df` plus their `cluster`.
    *
    * Keep-lowest-id is the deterministic tie-break: exact-duplicate
    * vectors always co-cluster (identical points share a nearest
    * centroid), so true duplicates are removed regardless of how k-means
    * carves the space; borderline semantic pairs split across clusters are
    * missed — the approximation the paper makes by design.
    *
    * Degenerate-cluster safety: byte-identical vectors collapse via one
    * window pass BEFORE the in-cluster join (result-identical, see phase 1
    * below), and clusters still above `maxClusterSize` distinct vectors
    * are capped at the join (excess members conservatively kept). */
  // memoized cluster assignment per (corpus plan, cols, k, seed, iters):
  // like the IVF index, the clustering is precomputed corpus state — a
  // repeated dedup over the same corpus must not re-fit k-means. Keyed by
  // the canonicalized plan ITSELF (structural equality, not a 32-bit
  // hash); bounded, evictions unpersist their cell tables.
  private val semCache = scala.collection.mutable.LinkedHashMap
    .empty[(org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
            String, Int, Long, Int), DataFrame]
  private val MaxSemEntries = 8

  private def semCells(df: DataFrame, vecCol: String, k: Int, seed: Long,
                       maxIter: Int): DataFrame = synchronized {
    val key = (df.queryExecution.optimizedPlan.canonicalized, vecCol, k,
      seed, maxIter)
    semCache.get(key) match {
      case Some(v) => v
      case None =>
        import org.apache.spark.ml.clustering.KMeans
        import org.apache.spark.ml.functions.array_to_vector
        val feat = df.withColumn("__vec",
          array_to_vector(col(vecCol).cast("array<double>")))
        val model = new KMeans().setK(k).setSeed(seed).setMaxIter(maxIter)
          .setFeaturesCol("__vec").setPredictionCol("cluster")
        val cells = model.fit(feat).transform(feat).drop("__vec")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        semCache.put(key, cells)
        while (semCache.size > MaxSemEntries) {
          val (oldKey, oldCells) = semCache.head
          oldCells.unpersist()
          semCache.remove(oldKey)
        }
        cells
    }
  }

  def semanticDedup(df: DataFrame, vecCol: String, idCol: String,
                    k: Int, threshold: Double, seed: Long = 7L,
                    maxIter: Int = 10,
                    maxClusterSize: Int = 5000): DataFrame = {
    val cells = semCells(df, vecCol, k, seed, maxIter)
    // ---- phase 1: exact-vector collapse (linear). The target workload is
    // duplicate-HEAVY corpora, where one k-means cell fills up with
    // byte-identical vectors and the in-cluster join below would go
    // quadratic in exactly the common case. Identical nonzero vectors have
    // cosine 1 >= threshold and always co-cluster, so every non-minimal id
    // of an identical-vector group is a dup by the join's own definition —
    // computable with ONE window over (cluster, vector), no pair ever
    // materialized. Zero vectors are excluded (cosine is NaN -> the join
    // never marks them), as is threshold > 1 (nothing reaches it) and
    // threshold == 1.0 exactly, where the fused cosine kernel's fp
    // rounding (dot vs sqrt(dot)² in the norm product) decides pair
    // membership and the collapse must not pre-judge it.
    // NaN-bearing vectors group as equal under Spark's NaN-normalizing
    // partitioning but cosine to anything is NaN (never >= threshold), so
    // they must not collapse either.
    val collapsible = lit(threshold < 1.0) &&
      exists(col(vecCol), x => x =!= lit(0.0f)) &&
      !exists(col(vecCol), x => isnan(x))
    val vw = Window.partitionBy(col("cluster"), col(vecCol))
    val tagged = cells.withColumn("__rep",
      when(collapsible, min(col(idCol)).over(vw)).otherwise(col(idCol)))
    val exactDups = tagged.filter(col(idCol) =!= col("__rep"))
      .select(col(idCol).as("__dup"))
    // ---- phase 2: pairwise cosine among the per-vector representatives.
    // Equivalent to joining all rows: cos(u_i, v_j) is the same for every
    // member of an identical-vector group, and rep ids are group minima,
    // so "exists lower-id mate above threshold" is preserved exactly.
    // A residual degenerate cluster (mass NEAR-identical but distinct
    // vectors) is hard-capped at maxClusterSize join participants per
    // cluster (lowest ids first — deterministic); excess members are
    // conservatively KEPT, never marked dup, bounding the join at
    // O(maxClusterSize²) per cluster. The paper's k ≈ √n·c keeps healthy
    // clusters far below the cap; the cap only disarms adversarial cells.
    val cw = Window.partitionBy(col("cluster")).orderBy(col(idCol))
    val reps = tagged.filter(col(idCol) === col("__rep"))
      .withColumn("__rank", row_number().over(cw))
      .filter(col("__rank") <= maxClusterSize)
    val a = reps.select(col("cluster"), col(idCol).as("__id_a"),
      col(vecCol).as("__v_a"))
    val b = reps.select(col("cluster"), col(idCol).as("__id_b"),
      col(vecCol).as("__v_b"))
    val pairDups = a.join(b, "cluster")
      .filter(col("__id_a") < col("__id_b"))
      .filter(Similarity.cosine(col("__v_a"), col("__v_b")) >= threshold)
      .select(col("__id_b").as("__dup"))
    val dups = exactDups.union(pairDups).distinct()
    cells.join(dups, col(idCol) === col("__dup"), "left_anti")
  }

  /** Embedding-cosine near-duplicate candidates above `threshold`, bucketed
    * by [[Similarity.lshBucket]]: only vectors sharing a hyperplane-sign
    * bucket are compared — a bucket-key equi-join, never an all-pairs
    * product. Approximate by construction: a pair split across buckets by
    * every probe is missed; raise `probes` / lower `bits` for recall.
    * High-cosine near-dups agree on most hyperplane signs, so recall at
    * dedup-grade thresholds (>= 0.9) is high. */
  def embeddingNearDup(df: DataFrame, vecCol: String, idCol: String,
                       threshold: Double, dim: Int,
                       bits: Int = 8, probes: Int = 4,
                       maxBucketSize: Int = 10000): DataFrame = {
    // two-phase hot-bucket cap, same shape as minhashLSH above: a corpus
    // with mass-identical embeddings (exact dupes, zero/boilerplate
    // vectors) lands them all in ONE hyperplane bucket and the equi-join
    // below goes quadratic in that bucket. A codegen'd COUNT over the base
    // bucket assignment finds oversized buckets first; they are dropped
    // from BOTH join sides (probe rows included), bounding fan-out at
    // maxBucketSize² per bucket. Members of a dropped bucket are exact or
    // trivial duplicates in practice — exactDedup collapses them in one
    // linear pass, after which the shrunken bucket re-qualifies here.
    // The bucket-id domain is 2^bits (256 at the default), so the allowed
    // set is tiny and AQE broadcasts the semi-joins.
    //
    // ONE shared bucketed exchange feeds all three consumers (the cold
    // count, both join sides — guide §2.1/§2.4): previously each branch
    // re-derived (scan + bucket hash) from `df`, reading the corpus three
    // times (plans/r15/q_embed_neardup_before.txt: 12 scan nodes). The
    // repartition(bucket) subtree below all three canonicalizes equal, so
    // ReuseExchange shuffles it once; total corpus-scale shuffle bytes are
    // unchanged (the base shuffle replaces the b-side join shuffle — b is
    // already bucket-partitioned when the final join needs it) and two of
    // the three corpus scans disappear at every scale. The spanRollup
    // forced-dependence trick keeps the cold branch reading every column
    // (xxhash64 is never null, so the count-when predicate is always true
    // and the semantics are exactly count(*)); without it ColumnPruning
    // narrows that branch's copy of the exchange apart and the reuse dies.
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"),
        Similarity.lshBucket(col(vecCol), bits, dim).as("bucket"))
      .repartition(col("bucket"))
    val allCols = xxhash64(col("id"), col("v")) >= lit(Long.MinValue)
    val cold = base.groupBy("bucket")
      .agg(count(when(allCols, lit(1))).as("__c"))
      .filter(col("__c") <= maxBucketSize)
      .select("bucket")
    val probeCols = col("bucket") +:
      (0 until math.min(math.max(probes - 1, 0), bits))
        .map(i => col("bucket").bitwiseXOR(1L << i))
    val a = base.select(col("id").as("id_a"), col("v").as("v_a"),
      explode(array(probeCols: _*)).as("bucket"))
      .join(cold, Seq("bucket"), "left_semi")
    // no semi-join on the b side: the a side is already cold-filtered, so
    // the bucket equi-join can only ever match cold buckets — hot-bucket b
    // rows probe the join once and miss (linear, never quadratic), and
    // leaving b as the bare shared exchange is what lets ReuseExchange
    // keep it scan-free (a pushed-down semi-join re-split the subtree)
    val b = base.select(col("id").as("id_b"), col("v").as("v_b"),
      col("bucket"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Similarity.cosine(col("v_a"), col("v_b")).as("cos"))
      .filter(col("cos") >= threshold)
      .groupBy("id_a", "id_b")
      .agg(first("cos").as("cos"))
  }
}
