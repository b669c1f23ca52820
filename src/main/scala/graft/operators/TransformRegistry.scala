package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Canonical control columns a mapper may set, mirroring the plugin output
  * contract `MapperPluginOutput` (monstachemap/plugin.go:19-44):
  * Drop/Skip flags plus the per-doc sink-metadata overrides the reference
  * stashes under `_meta_monstache` (monstache.go:1059-1096). Columns a
  * mapper does not set default to "no override". */
object Mapper {
  val controls: Seq[(String, Column)] = Seq(
    "m_drop" -> lit(false),
    "m_skip" -> lit(false),
    "m_meta_index" -> lit(null).cast("string"),
    "m_meta_id" -> lit(null).cast("string"),
    "m_meta_routing" -> lit(null).cast("string"),
    "m_meta_version" -> lit(null).cast("long"),
    "m_meta_version_type" -> lit(null).cast("string"),
    "m_meta_pipeline" -> lit(null).cast("string"))

  def ensureControls(df: DataFrame): DataFrame =
    controls.foldLeft(df) { case (d, (n, c)) =>
      if (d.columns.contains(n)) d else d.withColumn(n, c)
    }
}

/** Namespace-keyed transform/filter registry (SURVEY §2.10) — the Spark
  * replacement for the reference's embedded-JS / Go-plugin surface. A
  * "script" here is a named set-oriented transform; configuration selects
  * which transforms run for which namespace, with the reference's chaining
  * rule: the global `""` entry runs first, then the namespace-specific one
  * (monstache.go:1001 `names := []string{"", op.Namespace}`, 1502).
  *
  * Filter semantics (F5/F6, monstache.go:1498-1529): predicates apply only
  * to inserts/updates that carry data; deletes and drops always pass.
  * A failing predicate removes the op from the stream.
  *
  * Mapper semantics (P1/P2, monstache.go:1000-1103): a mapper may replace
  * the document, set `m_drop` (JS falsy return / plugin Drop → doc removed
  * from the index), set `m_skip` (plugin Skip → not indexed but still
  * flows), or set `m_meta_*` overrides. A row dropped by the global mapper
  * bypasses the namespace mapper, like the JS chain's `break`.
  *
  * Scale: filters are one conjunctive predicate (pushes into the scan).
  * Mapper dispatch splits the frame per registered namespace and unions —
  * each slice is a narrow pipeline over the same scan, no shuffle; with
  * column-pruned parquet input the per-slice scans are cheap and Catalyst
  * merges common subplans under AQE. Registries are small (config-sized),
  * so the plan stays bounded.
  */
case class TransformRegistry(
    filters: Map[String, Column] = Map.empty,
    mappers: Map[String, DataFrame => DataFrame] = Map.empty) {

  private val isDataOp: Column =
    col("operation").isin("i", "u") && col("document").isNotNull

  /** F5/F6: global-then-namespace predicate chain as one filter. */
  def applyFilters(df: DataFrame): DataFrame = {
    if (filters.isEmpty) df
    else {
      val global = filters.getOrElse("", lit(true))
      val nsCase = filters.view.filterKeys(_.nonEmpty).toSeq
        .foldLeft(lit(true)) { case (acc, (ns, p)) =>
          when(col("namespace") === ns, p).otherwise(acc)
        }
      df.filter(!isDataOp || (global && nsCase))
    }
  }

  /** Run `m` over the slice of `df` satisfying `eligible`; pass the rest
    * through unchanged (mapper-added columns become null there). */
  private def applyToSlice(df: DataFrame, eligible: Column,
                           m: DataFrame => DataFrame): DataFrame = {
    val hit = m(df.filter(eligible))
    val miss = df.filter(!coalesce(eligible, lit(false)))
    hit.unionByName(miss, allowMissingColumns = true)
  }

  /** P1/P2: global mapper first, then each namespace's mapper over its
    * not-yet-dropped data ops. */
  def applyMappers(df: DataFrame): DataFrame = {
    val base = Mapper.ensureControls(df)
    val afterGlobal = mappers.get("") match {
      case Some(m) => applyToSlice(base, isDataOp, m)
      case None => base
    }
    val nsKeys = mappers.keys.filter(_.nonEmpty).toSeq.sorted
    if (nsKeys.isEmpty) afterGlobal
    else {
      val parts = nsKeys.map { ns =>
        // coalesce: a global mapper that projected the control columns
        // away leaves m_drop NULL after the reinstating union, and a bare
        // negation would make the row ineligible — silently skipping its
        // namespace mapper instead of running it
        applyToSlice(afterGlobal.filter(col("namespace") === ns),
          isDataOp && !coalesce(col("m_drop"), lit(false)), mappers(ns))
      }
      // coalesce: a NULL namespace makes isin NULL, and a bare negation
      // would silently drop the row instead of passing it through unmapped
      val rest = afterGlobal.filter(
        !coalesce(col("namespace").isin(nsKeys: _*), lit(false)))
      (parts :+ rest).reduce(_.unionByName(_, allowMissingColumns = true))
    }
  }

  /** Post-mapping routing (doIndex, monstache.go:3295-3304): a dropped
    * update becomes a delete (P11) that KEEPS the update's version — the
    * reference routes it to doDelete while `op.IsUpdate()` is still true,
    * so tsVersion stamps the update offset +1, not the delete offset +2
    * (monstache.go:4053-4063). A dropped insert vanishes; `m_skip`
    * surfaces as `meta_skip` (doIndexing:3162 skips indexing but the op
    * still flows). */
  def finalizeOps(df: DataFrame): DataFrame = {
    // m_drop can be NULL even after ensureControls: a mapper that
    // projects the control columns away gets them reinstated as NULL by
    // applyToSlice's allowMissingColumns union, and NULL && true = NULL
    // would silently delete every insert that crossed such a mapper
    val d = Mapper.ensureControls(df)
      .withColumn("m_drop", coalesce(col("m_drop"), lit(false)))
    d.filter(!(col("m_drop") && col("operation") === "i"))
      .withColumn("document",
        when(col("m_drop"), lit(null).cast("string")).otherwise(col("document")))
      .withColumn("operation",
        when(col("m_drop") && col("operation") === "u", "d")
          .otherwise(col("operation")))
      .drop("m_drop")
      .withColumnRenamed("m_skip", "meta_skip")
  }

  /** The full chain: filter → map → finalize.
    *
    * `materializeInput`: when several namespace mappers are registered,
    * the dispatch re-reads the filtered input once per branch (each
    * slice is an independent scan lineage). Materializing the
    * post-filter frame once trades one cached pass for N re-scans — the
    * reference reads each op off a channel exactly once, so this is the
    * default whenever more than one mapper would re-scan. Set it false
    * at cluster scale when storage is namespace-partitioned (each
    * branch's filter then prunes to its own partitions and the re-scans
    * are already minimal). */
  def apply(df: DataFrame, materializeInput: Boolean = true): DataFrame = {
    val filtered = applyFilters(df)
    // a lazy truncation, registered with the caller's scope: it
    // materializes on the first action and the other branches reuse it —
    // eager would run a Spark job during what callers treat as plan
    // construction. Even one mapper forks the input into hit/miss
    // branches. Streaming frames cannot be truncated at plan time (each
    // micro-batch is already materialized once by the engine).
    val in = if (materializeInput && !df.isStreaming && mappers.nonEmpty)
      graft.CacheBarriers.truncate(filtered, eager = false) else filtered
    finalizeOps(applyMappers(in))
  }
}
