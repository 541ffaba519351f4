package graft.store

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Write-time field-name hit counts — the Spark analogue of the
  * reference's per-block column headers, which let GetFieldNames answer
  * without reading a single value (storage_search.go:188-489 walks
  * columnsHeader entries, block_header.go:584-615 stores the per-block
  * field list + row counts).
  *
  * Granularity: one `field → rows-with-non-empty-value` map per
  * (tenant, _day) part, in `<dir>/logs/_field_names.json`. Bulk loads
  * ([[LogStore.ingest]]) count exactly (two jobs over the batch being
  * written: one aggregate for top-level columns, one explode-groupBy for
  * dynamic `fields`-map keys). Streaming appends stay OFF the hot path:
  * they only INVALIDATE touched parts (riding the same observe()
  * collect_set as [[ValueTypeMeta]]), and background compaction counts
  * each part it rewrites exactly — the same lifecycle the reference's
  * background merges use to (re)write block headers.
  *
  * Query side: `field_names` over a PRISTINE store scan — the relation
  * itself, optionally under filters that touch only the (tenant, _day)
  * partition columns (the serving layer's tenant scoping compiles to
  * exactly that) — answers by summing sidecar entries of the parts the
  * filters admit: wall time is independent of row count. Any other shape
  * (value filters, preceding pipes, pending-promotion projections, a part
  * an append invalidated) falls back to the scan path unchanged.
  */
object FieldNameMeta {

  /** Queries answered from the sidecar (observable in /metrics and
    * asserted by FieldNameMetaSpec — "the fast path actually ran"). */
  val served = new java.util.concurrent.atomic.AtomicLong

  /** facets queries that used sidecar assistance (dict-served fields,
    * over-cap skips, or a restricted scan set). */
  val facetsAssisted = new java.util.concurrent.atomic.AtomicLong

  /** Per-(part, field) write-time stats. `hits` = rows with a non-empty
    * value (the field_names payload). The facets-assist extras mirror
    * the reference's columnHeader: `nd` = exact distinct NON-EMPTY value
    * count, `maxlen` = max octet length among non-empty values (-1 each
    * when written by a pre-v2 sidecar), `dict` = the complete non-empty
    * value→rowcount map when the field is dict-class in this part
    * (values_encoder.go:19-59's ≤8-unique valuesDict analogue). */
  case class FieldStat(hits: Long, nd: Long = -1L, maxlen: Long = -1L,
                       dict: Option[Map[String, Long]] = None)

  private def sidecarPath(dir: String) = s"$dir/logs/_field_names.json"

  // ---------------------------------------------------------------------
  // write side
  // ---------------------------------------------------------------------

  /** Columns field_names reports: everything but the dynamic `fields`
    * container and the internal partition columns (Compiler.logicalTopCols
    * hides the same two). */
  def countableTopCols(df: DataFrame): Seq[String] =
    df.columns.toSeq.filter(c =>
      c != "fields" && c != "tenant" && c != "_day")

  private[store] def nonEmpty(df: DataFrame, c: String): Column =
    graft.logql.Compiler.strF(df, c) =!= ""

  // The bulk-load path's counts come fused with the value-type verdicts
  // from ValueTypeMeta.batchStats (one entries job for both sidecars).

  /** Exact whole-part counts for the compaction path — `partDf` is one
    * partition's bare files (no tenant/_day columns). Two bounded jobs
    * over data the compactor is already rewriting. */
  def countsForPart(partDf: DataFrame): Map[String, Long] = {
    val cols = countableTopCols(partDf)
    val acc = scala.collection.mutable.Map.empty[String, Long]
    if (cols.nonEmpty) {
      val aggs = cols.map(c =>
        count(when(nonEmpty(partDf, c), 1)).as(s"__fn_$c"))
      val r = partDf.agg(aggs.head, aggs.tail: _*).collect().head
      cols.zipWithIndex.foreach { case (c, i) =>
        if (r.getLong(i) > 0L) acc(c) = r.getLong(i)
      }
    }
    if (partDf.schema.fields.exists(f =>
          f.name == "fields" && f.dataType.isInstanceOf[MapType])) {
      partDf.select(explode(col("fields")).as(Seq("__k", "__v")))
        .filter(col("__v").isNotNull && col("__v") =!= "")
        .groupBy("__k").agg(count(lit(1)).as("__n"))
        .collect().foreach(r =>
          acc.updateWith(r.getString(0))(v => Some(v.getOrElse(0L) + r.getLong(1))))
    }
    acc.toMap
  }

  /** Streaming-append invalidation: rides the SAME observed collect_set
    * as [[ValueTypeMeta.partsAgg]] — an appended part's counts are stale
    * (counts are additive, but the flush path must stay free of extra
    * jobs), so the entry is dropped and field_names falls back to the
    * scan until compaction re-counts the part exactly. */
  def invalidateParts(dir: String, get: String => Any): Unit = {
    val parts = get("__vt_parts").asInstanceOf[Seq[_]].map(String.valueOf)
    if (parts.isEmpty) return
    val base = load(dir)
    val pruned = base -- parts
    if (pruned.size != base.size) writeSidecar(dir, pruned)
  }

  /** Retention hygiene: drop the sidecar entries of expired parts. The
    * query side never serves a part that is off disk (coverage check),
    * so this only stops dead keys accumulating across retention cycles. */
  def dropParts(dir: String, parts: Set[String]): Unit = {
    if (parts.isEmpty) return
    val base = load(dir)
    val pruned = base.filterNot { case (k, _) => parts(k) }
    if (pruned.size != base.size) writeSidecar(dir, pruned)
  }

  /** Write per-part stats; same contract as [[ValueTypeMeta.record]]
    * (whole-part entries replace, callers hold the store write lock). */
  def record(dir: String, perPart: Map[String, Map[String, FieldStat]],
             overwrite: Boolean): Unit = {
    if (perPart.isEmpty && !overwrite) return
    val base =
      if (overwrite) Map.empty[String, Map[String, FieldStat]] else load(dir)
    writeSidecar(dir, base ++ perPart)
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def writeSidecar(dir: String,
                           all: Map[String, Map[String, FieldStat]]): Unit = {
    val node = mapper.createObjectNode()
    all.toSeq.sortBy(_._1).foreach { case (part, fs) =>
      val pn = node.putObject(part)
      fs.toSeq.sortBy(_._1).foreach { case (f, s) =>
        val fn = pn.putObject(f)
        fn.put("h", s.hits)
        if (s.nd >= 0L) fn.put("nd", s.nd)
        if (s.maxlen >= 0L) fn.put("ml", s.maxlen)
        s.dict.foreach { d =>
          val dn = fn.putObject("d")
          d.toSeq.sortBy(_._1).foreach { case (v, c) => dn.put(v, c) }
        }
      }
    }
    val bytes = mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(node)
    val tmp = sidecarPath(dir) + s".tmp-${System.nanoTime()}"
    Fs.writeAll(tmp, bytes)
    Fs.delete(sidecarPath(dir))
    Fs.rename(tmp, sidecarPath(dir))
  }

  private val loadCache = scala.collection.mutable.Map.empty[
    String, (Long, Long, Map[String, Map[String, FieldStat]])]

  def load(dir: String): Map[String, Map[String, FieldStat]] = synchronized {
    val p = sidecarPath(dir)
    val f = new java.io.File(new org.apache.hadoop.fs.Path(p).toUri.getPath)
    if (!f.exists()) return Map.empty
    val (len, mt) = (f.length(), f.lastModified())
    loadCache.get(dir) match {
      case Some((l, m, v)) if l == len && m == mt => v
      case _ =>
        val v =
          try {
            import scala.jdk.CollectionConverters._
            val node = mapper.readTree(Fs.readAll(p))
            node.fields().asScala.map { e =>
              e.getKey -> e.getValue.fields().asScala.map { fe =>
                val fv = fe.getValue
                // pre-v2 sidecars stored a bare hit count
                val stat =
                  if (fv.isNumber) FieldStat(fv.asLong())
                  else FieldStat(
                    fv.path("h").asLong(),
                    if (fv.has("nd")) fv.path("nd").asLong() else -1L,
                    if (fv.has("ml")) fv.path("ml").asLong() else -1L,
                    if (fv.has("d")) Some(fv.path("d").fields().asScala
                      .map(de => de.getKey -> de.getValue.asLong()).toMap)
                    else None)
                fe.getKey -> stat
              }.toMap
            }.toMap
          } catch { case _: Exception =>
            Map.empty[String, Map[String, FieldStat]] }
        loadCache(dir) = (len, mt, v)
        v
    }
  }

  // ---------------------------------------------------------------------
  // query side
  // ---------------------------------------------------------------------

  /** Sidecar-served `field_names` result for `df`, or None when `df` is
    * not a pristine partition-filtered store scan (callers then run the
    * scan-based pipe). The plan must be Filter* over a single parquet
    * LogicalRelation rooted at `<dir>/logs`, every filter condition may
    * reference only the tenant/_day partition columns, and the sidecar
    * must cover every on-disk part the filters admit. */
  def serve(df: DataFrame, out: String): Option[DataFrame] = {
    val (_, admitted, counts) = admittedCoveredParts(df).getOrElse(return None)
    val total = scala.collection.mutable.Map.empty[String, Long]
    admitted.foreach(p => counts(p).foreach { case (f, s) =>
      total.updateWith(f)(v => Some(v.getOrElse(0L) + s.hits))
    })
    served.incrementAndGet()
    val spark = df.sparkSession
    import spark.implicits._
    Some(total.toSeq.filter(_._2 > 0L).toDF(out, "hits"))
  }

  /** Shared pristine-scan detection: `df` must be Filter* over a single
    * parquet LogicalRelation rooted at `<dir>/logs`, every filter
    * condition referencing only the tenant/_day partition columns, and
    * the sidecar must cover every on-disk part the filters admit.
    * Returns (storeDir, admitted part keys, loaded sidecar). */
  private def admittedCoveredParts(df: DataFrame)
      : Option[(String, Set[String], Map[String, Map[String, FieldStat]])] = {
    import org.apache.spark.sql.catalyst.expressions.{And => CAnd, AttributeSeq, BindReferences, Expression, Predicate => CPredicate}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, LogicalPlan}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.unsafe.types.UTF8String

    // 1. peel Filter nodes off a bare scan
    var plan: LogicalPlan = df.queryExecution.analyzed
    val conds = scala.collection.mutable.ArrayBuffer.empty[Expression]
    var guard = 0
    while (plan.isInstanceOf[LFilter] && guard < 32) {
      val f = plan.asInstanceOf[LFilter]
      conds += f.condition
      plan = f.child
      guard += 1
    }
    val (dir, output) = plan match {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.map(_.toUri.getPath) match {
            case Seq(one) if one.endsWith("/logs") =>
              (one.stripSuffix("/logs"), l.output)
            case _ => return None
          }
        case _ => return None
      }
      case _ => return None
    }
    // 2. filters may only touch the partition columns
    val partCols = Set("tenant", "_day")
    if (!conds.forall(_.references.forall(a => partCols(a.name)))) return None
    val counts = load(dir)
    if (counts.isEmpty) return None

    // 3. decide which parts the filters admit, evaluating the Catalyst
    // predicate driver-side against each part's (tenant, day) pair
    val attrs = output.filter(a => partCols(a.name))
    if (attrs.map(_.name).toSet != partCols) return None
    val pred = conds.reduceOption(CAnd).map { c =>
      CPredicate.create(BindReferences.bindReference(c, AttributeSeq(attrs)))
    }
    def admits(part: String): Boolean = pred.forall { p =>
      val i = part.lastIndexOf("/_day=")
      if (i < 0) return false
      val tenant = part.substring("tenant=".length, i)
      val day = part.substring(i + "/_day=".length)
      val vals = attrs.map { a =>
        if (a.name == "tenant") UTF8String.fromString(tenant)
        else a.dataType match {
          // partition inference types _day as DateType (internal form:
          // days since epoch); a type-inference-off session sees strings
          case org.apache.spark.sql.types.DateType =>
            try Int.box(java.time.LocalDate.parse(day).toEpochDay.toInt)
            catch { case _: Exception => return false }
          case _ => UTF8String.fromString(day)
        }
      }
      p.eval(InternalRow.fromSeq(vals)) == true
    }

    // 4. coverage: every admitted ON-DISK part needs a sidecar entry —
    // an append-invalidated part would otherwise silently undercount
    val admitted = LogStore.listPartKeys(dir).filter(admits)
    if (!admitted.subsetOf(counts.keySet)) return None
    Some((dir, admitted, counts))
  }

  // ---------------------------------------------------------------------
  // facets assist
  // ---------------------------------------------------------------------

  /** What the sidecar can contribute to a `facets` pipe over `df`.
    *
    *   - `dictRows`: exact (field, value, hits) rows for fields whose
    *     value dictionary is complete in EVERY admitted part — these
    *     fields need no scan at all; the rows join the pipe's counted
    *     relation as-is (already non-empty- and maxValueLen-filtered).
    *   - `skipFields`: fields PROVABLY dropped by the
    *     max_values_per_field cap — some single part already holds more
    *     than `maxPerField` distinct post-filter values (per-part nd is
    *     a lower bound of the global distinct count; exact because every
    *     part's maxlen ≤ maxValueLen makes the length filter a no-op).
    *   - `scanFields`: everything else — the only fields whose values
    *     the pipe still reads.
    *   - `nrows`: exact max post-filter field hits across ALL fields
    *     whose maxlen ≤ maxValueLen (dict fields recomputed from their
    *     filtered dicts) — the keep-const baseline must see skipped and
    *     dict-served fields too.
    *
    * None when `df` is not a pristine covered store scan or any admitted
    * part predates the v2 stats (nd/maxlen absent ⇒ nothing provable). */
  /** `constFields` is Some(set) when the sidecar can decide the pipe's
    * drop-constant-fields rule EXACTLY for every field (post-filter
    * value counts known: dict-complete, or over-cap/short with additive
    * hit totals) — the compiler then skips the whole second-consumer
    * const-detection subtree (which otherwise re-scans the store: the
    * downstream field filter pushes into only one branch's scan, so the
    * two subtrees never canonicalize equal and ReuseExchange can't
    * share them). None → runtime detection. */
  case class FacetsAssist(dictRows: Seq[(String, String, Long)],
                          skipFields: Set[String],
                          scanFields: Set[String],
                          nrows: Long,
                          constFields: Option[Set[String]] = None)

  def facetsAssist(df: DataFrame, maxPerField: Long,
                   maxValueLen: Long): Option[FacetsAssist] = {
    val (_, admitted, counts) = admittedCoveredParts(df).getOrElse(return None)
    if (admitted.isEmpty) return None
    val perField = scala.collection.mutable
      .Map.empty[String, scala.collection.mutable.ArrayBuffer[FieldStat]]
    admitted.foreach(p => counts(p).foreach { case (f, s) =>
      perField.getOrElseUpdate(f, scala.collection.mutable.ArrayBuffer()) += s
    })
    val dictRowsB = Seq.newBuilder[(String, String, Long)]
    val skipB = Set.newBuilder[String]
    val scanB = Set.newBuilder[String]
    var nrows = 0L
    var assisted = false
    // const-field detection inputs: post-filter per-field hit totals and
    // distinct-value counts, exact only under the conditions below
    var constExact = true
    val fieldHits = scala.collection.mutable.Map.empty[String, Long]
    val oneValue = scala.collection.mutable.Set.empty[String]
    perField.foreach { case (f, stats) =>
      val v2 = stats.forall(_.nd >= 0L)
      val shortEverywhere = v2 && stats.forall(_.maxlen <= maxValueLen)
      if (v2 && stats.forall(_.dict.isDefined)) {
        // complete dictionary in every part: serve exactly, no scan
        val merged = scala.collection.mutable.Map.empty[String, Long]
        stats.foreach(_.dict.get.foreach { case (v, c) =>
          merged.updateWith(v)(x => Some(x.getOrElse(0L) + c)) })
        val kept = merged.filter { case (v, _) =>
          v.nonEmpty && v.getBytes("UTF-8").length <= maxValueLen }
        kept.foreach { case (v, c) => dictRowsB += ((f, v, c)) }
        nrows = math.max(nrows, kept.valuesIterator.sum)
        if (kept.nonEmpty) {
          fieldHits(f) = kept.valuesIterator.sum
          if (kept.size == 1) oneValue += f
        }
        assisted = true
      } else if (shortEverywhere && stats.exists(_.nd > maxPerField)) {
        // one part alone exceeds the cap: the pipe would drop the field
        skipB += f
        nrows = math.max(nrows, stats.map(_.hits).sum)
        // nd > cap >= 1 in some part ⇒ more than one distinct value;
        // hits are additive and no value is length-filtered
        fieldHits(f) = stats.map(_.hits).sum
        assisted = true
      } else {
        scanB += f
        if (shortEverywhere) {
          nrows = math.max(nrows, stats.map(_.hits).sum)
          fieldHits(f) = stats.map(_.hits).sum
          // single-valued scan fields would be dict-class (nd==1 ≤ dict
          // bound) in a v2 part — reaching here with every part at nd==1
          // means some part lacks a dict, so cross-part value agreement
          // is unknowable from the sidecar
          if (stats.forall(_.nd == 1L)) constExact = false
        } else constExact = false // post-filter totals unknowable
      }
    }
    if (!assisted) return None
    facetsAssisted.incrementAndGet()
    val constFields =
      if (!constExact) None
      else {
        val baseline = if (fieldHits.isEmpty) 0L else fieldHits.values.max
        Some(oneValue.filter(f => fieldHits(f) == baseline && baseline > 0L)
          .toSet)
      }
    Some(FacetsAssist(dictRowsB.result(), skipB.result(), scanB.result(),
      nrows, constFields))
  }
}
