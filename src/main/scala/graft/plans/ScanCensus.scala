package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Per-table base-scan census over optimized LOGICAL plans — the
  * round-8 promotion of the dev census (which found 9 queries
  * silently re-reading fact tables up to 7× in round 7) to shared,
  * gate-grade logic: [[graft.Profile]] prints it, GlobalScanSpec
  * fails the build on it.
  *
  * Counting basis and why:
  *  - LOGICAL occurrences of each parquet relation, over plans
  *    expanded through [[CheckpointRegistry]] — so checkpointed
  *    interiors (where round 7's offenders hid) are visible, unlike
  *    the executed-plan string census this replaces.
  *  - Matched by the relation's actual `rootPaths` file names, not
  *    plan-string substrings: Spark truncates long Location strings
  *    in plan output, which silently undercounted (round-7 ADVICE).
  *    Leaves matching no graded table are reported as `unknown` so
  *    any future mismatch is visible instead of silent.
  *  - Logical counts are an UPPER bound on physical I/O (ReuseExchange
  *    can dedupe identical subtrees at execution) — conservative in
  *    the direction the 100 TB grade cares about: a plan that passes
  *    the gate logically cannot scan more at runtime.
  */
object ScanCensus {

  /** Tables whose size grows with the corpus — a repeated scan of one
    * of these is an N× I/O multiplier at 100 TB. Dimension tables
    * (region, nation) and bounded frames are excluded: re-reading a
    * 25-row table is free at any scale. Derived from the same
    * growth vocabulary as [[ScaleRules]] (fact tables of TESTDATA.md). */
  val factTables: Set[String] = Set(
    "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings")

  /** Table name for a file relation's root paths. Round-9 (ADVICE):
    * match any PATH SEGMENT equal to `<table>.parquet` or `<table>`
    * (exact segment equality — no partsupp-style substring false
    * positives), preferring the leaf name, instead of requiring the
    * leaf to be `<table>.parquet` exactly: a partitioned/multi-file
    * layout (`…/lineitem/part-00001.parquet`, per-partition subdirs)
    * would previously classify as `unknown`, and the fact gate would
    * never fire for that table. */
  private[graft] def tableOf(fs: HadoopFsRelation): Option[String] =
    tableOfPaths(fs.location.rootPaths)

  /** Directory names that count as a catalog warehouse root for the
    * `_<table>` suffix classification below: Spark's default
    * `spark-warehouse` plus the leaf of the session's configured
    * `spark.sql.warehouse.dir`. Falls back to the default session
    * when the calling thread has no ACTIVE session (round-11 review:
    * gate sweeps may classify plans from a thread that never set
    * one — degrading to `unknown` there would silently weaken the
    * census instead of failing loudly). Computed ONCE per
    * tableOfPaths call, not per path segment. */
  private def warehouseRoots: Set[String] = {
    val configured = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .flatMap(s => scala.util.Try(
        new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir")).getName).toOption)
    configured.toSet + "spark-warehouse"
  }

  private[graft] def tableOfPaths(
      paths: Seq[org.apache.hadoop.fs.Path]): Option[String] = {
    val leaf = paths.iterator.flatMap(p =>
      graft.Tables.names.find(t => p.getName == s"$t.parquet"))
      .toSeq.headOption
    lazy val roots = warehouseRoots // once per call, not per segment
    leaf.orElse {
      // round-10 (ADVICE): iterate each path's segments LEAF-TO-ROOT
      // and take the innermost match, instead of testing Tables.names
      // in declaration order over a flat segment set — a layout like
      // /data/part/lineitem/part-00001.parquet previously classified
      // as 'part' (declaration order), misattributing census counts
      val names = graft.Tables.names.toSet
      paths.iterator.flatMap { p =>
        val segs = p.toString.split('/')
        segs.indices.reverseIterator.flatMap { i =>
          val seg = segs(i)
          val base = if (seg.endsWith(".parquet"))
            seg.stripSuffix(".parquet") else seg
          if (names.contains(base)) Some(base)
          else if (i > 0 && roots.contains(segs(i - 1)))
            // catalog-layout tables (Tables' `catalog:<prefix>` dirs /
            // Layout.writeBucketed) live at <warehouse>/<prefix>_<name>
            // — classify them too so a bucketed deployment keeps census
            // coverage (round-10). Round-11 (ADVICE): the suffix match
            // fires ONLY for segments DIRECTLY under a warehouse root —
            // an unrelated `/data/backup_orders/...` directory no
            // longer classifies as `orders` and cannot trip
            // factOffenders falsely.
            names.find(t => base.endsWith(s"_$t"))
          else None
        }.take(1)
      }.toSeq.headOption
    }
  }

  /** Count of base-table scans per table name across `plans`
    * (typically one query's CheckpointRegistry-expanded plan list).
    * Key "unknown" counts file relations matching no graded table.
    * Round-9 (ADVICE): also descends into subquery-expression plans
    * (`subqueriesAll`) — `LogicalPlan.foreach` alone leaves scalar
    * subqueries' scans invisible to the census. Round-9 (self-found,
    * same class): `.persist()` plants an InMemoryRelation leaf whose
    * interior only exists PHYSICALLY — its base scans were invisible
    * to the census exactly the way checkpoint interiors were in
    * round 7. Each DISTINCT cache (by CachedRDDBuilder identity — the
    * CacheManager dedupes re-persists of the same frame) now counts
    * its interior's file scans ONCE per census, matching the
    * checkpoint convention: one materialization = one read, however
    * many branches consume the cached frame. */
  def tableScanCounts(rawPlans: Seq[LogicalPlan]): Map[String, Int] = {
    // Round-10 (ADVICE): expand internally. The pre-seed below assumes
    // the input already includes every checkpoint interior (i.e. is
    // CheckpointRegistry.expand output) — a caller passing a RAW plan
    // silently skipped all checkpoint interiors instead of counting
    // them. expand() is identity-stable (interiors come from the
    // registry map, the same object every call), so re-expanding an
    // already-expanded list and deduping by object identity yields the
    // same closure either way — raw and expanded inputs now count
    // identically.
    val seenPlans = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[LogicalPlan, java.lang.Boolean]())
    val plans = rawPlans.flatMap(CheckpointRegistry.expand)
      .filter(seenPlans.add)
    val counts = scala.collection.mutable.Map.empty[String, Int]
    def add(name: Option[String]): Unit = {
      val key = name.getOrElse("unknown")
      counts(key) = counts.getOrElse(key, 0) + 1
    }
    val seenCaches =
      java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    val seenCkpts = scala.collection.mutable.Set[Int]()
    // NOTE (round-9 review): a cachedPlan with any exchange is an
    // AdaptiveSparkPlanExec LEAF on Spark 4.1.2 — `foreach` alone sees
    // nothing inside it, which would make the persist-interior count
    // vacuous for exactly the join/aggregate interiors that matter.
    // Unwrap it (and query stages) explicitly.
    // physical subquery plans included, mirroring goLogical — a
    // scalar-subquery scan inside a persisted interior must count too
    def goPhysical(p: org.apache.spark.sql.execution.SparkPlan): Unit =
      (Iterator(p) ++ p.subqueriesAll.iterator).foreach(_.foreach {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          add(tableOfPaths(f.relation.location.rootPaths))
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          goPhysical(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          goPhysical(q.plan)
        case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          if (seenCaches.add(s.relation.cacheBuilder))
            goPhysical(s.relation.cachedPlan)
        case r: org.apache.spark.sql.execution.RDDScanExec =>
          if (seenCkpts.add(r.rdd.id))
            CheckpointRegistry.lookup(r.rdd.id).foreach(goLogical)
        case _ => ()
      })
    def goLogical(plan: LogicalPlan): Unit =
      (Iterator(plan) ++ plan.subqueriesAll.iterator).foreach(_.foreach {
        case lr: LogicalRelation =>
          add(lr.relation match {
            case fs: HadoopFsRelation => tableOf(fs)
            case _ => None
          })
        case m: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
          if (seenCaches.add(m.cacheBuilder)) goPhysical(m.cachedPlan)
        // a checkpoint interior reached through a PHYSICAL cache gets a
        // plain goLogical walk (it is not in the caller's expanded
        // list) — recurse into ITS nested checkpoint leaves too, or a
        // chained-iteration interior under a persisted subtree would
        // stop counting at the first leaf (round-9 review)
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          if (seenCkpts.add(l.rdd.id))
            CheckpointRegistry.lookup(l.rdd.id).foreach(goLogical)
        case _ => ()
      })
    // Pre-seed the checkpoint ids that the caller's list already
    // covers: the list is typically CheckpointRegistry.expand output,
    // whose interiors are appended and id-deduped there — goLogical
    // must not re-count them when the same checkpoint is also
    // reachable through a cache interior. Subquery plans included
    // (expand descends into them, so the pre-seed must too).
    plans.foreach { p =>
      (Iterator(p) ++ p.subqueriesAll.iterator).foreach(_.foreach {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          seenCkpts += l.rdd.id
        case _ => ()
      })
    }
    plans.foreach(goLogical)
    counts.toMap
  }

  /** The gate predicate: fact tables scanned more than `maxScans`
    * times in one query's expanded plan. */
  def factOffenders(plans: Seq[LogicalPlan], maxScans: Int)
      : Map[String, Int] =
    tableScanCounts(plans).filter { case (t, c) =>
      factTables.contains(t) && c > maxScans
    }
}
