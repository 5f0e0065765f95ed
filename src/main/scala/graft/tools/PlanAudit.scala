package graft.tools

import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, ExprId}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

/**
 * Registry-wide plan-shape inventory: for every `SparkEntry.queries` entry,
 * plan it against the given sf dir and print one JSON line naming
 *   - physical CartesianProductExec nodes (should never exist),
 *   - physical BroadcastNestedLoopJoinExec nodes (legitimate only for the
 *     documented broadcast-1-row scalar/codebook cross joins),
 *   - interpreted (CodegenFallback) expressions anywhere in the physical
 *     plan (engine expressions are all real-codegen since r9; a builtin
 *     or future expression regressing to fallback de-pipelines its
 *     WholeStageCodegen span),
 *   - fat columns (documents.text, embeddings.embedding) read at a parquet
 *     scan, and — the 100 TB hazard — carried THROUGH a ShuffleExchange.
 *     The fat_shuffle census is PINNED in ScaleSpec since r10: it plans
 *     with auto-broadcast disabled (so small-sf size estimates can't hide
 *     the shuffle a big sf would take) and traces attribute LINEAGE via
 *     [[fatShuffled]] (so the LSH emb1/emb2 renames can't evade it).
 * Run with -Dgraft.frame.cache.disable=1 to see the real computation
 * pipelines instead of warm FrameCache memo scans.
 * The committed ScaleSpec audit pins the discovered population; this tool
 * exists to (re-)discover it when the spec's allowlist fails.
 * Usage: runMain graft.tools.PlanAudit <sfDir>
 */
object PlanAudit {

  /** Every node of `p` INCLUDING the plans behind the two leaf-node
    * curtains `collect` stops at: InMemoryTableScanExec (persist()
    * boundaries — e.g. the LSH bands frame hides its band exchange there)
    * and AdaptiveSparkPlanExec (AQE wraps cached subtrees in their own
    * adaptive root, and `sparkPlan` children may carry one too). Subquery
    * plans are not chased: the engine's scalar-bounds pattern is
    * crossJoin(broadcast(...)), never a subquery expression. */
  def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val here = p.collect { case n => n }
    here ++ here.flatMap {
      case imts: InMemoryTableScanExec => allNodes(imts.relation.cachedPlan)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        allNodes(a.inputPlan)
      case _ => Nil
    }
  }

  /** Names of fat columns (documents.text, embeddings.embedding — the
    * payload bytes that dominate a 100 TB corpus) carried through any
    * ShuffleExchange of `p`, traced by ATTRIBUTE LINEAGE rather than by
    * name: the census seeds at the parquet scans that read the columns
    * and follows every identity rename (`Alias(AttributeReference)` —
    * the shape `col("embedding").as("emb1")` plans to), so the LSH pair
    * join's emb1/emb2 renames no longer evade it. DERIVED values
    * (norms, hashes, shingles, truncated prefixes) are deliberately not
    * tainted — they reference a fat column but do not carry its bytes;
    * the hazard this census pins is the bytes themselves crossing the
    * wire.
    *
    * Taint flows bottom-up (children before a node's own aliases) and
    * through the same curtains [[allNodes]] chases — persist boundaries
    * (InMemoryTableScan, positional output mapping) and nested adaptive
    * roots — plus ReusedExchange's output remap. Returned names are the
    * attribute names AT the exchange (`emb1`, not `embedding`), prefixed
    * with the seed name they alias (`embedding->emb1`) so a report reads
    * without chasing exprIds. */
  def fatShuffled(p: SparkPlan,
                  fatNames: Set[String] = Set("text", "embedding")): Seq[String] =
    fatCensus(p, fatNames) { (node, taintOf, emit) =>
      node match {
        case x: ShuffleExchangeExec =>
          x.output.foreach(a =>
            taintOf(a.exprId).foreach(seed => emit(s"$seed->${a.name}")))
        case _ =>
      }
    }

  /** Fat columns carried through any BroadcastExchange of `p` — the OTHER
    * way corpus payload bytes can leave the scan: `broadcast()` hints are
    * honored unconditionally, so a corpus-sized frame behind one is
    * collected whole to the driver and shipped to every executor (the r11
    * ADVICE finding: scoreCandidates broadcast the full-corpus qe, and the
    * shuffle census was structurally blind to it). Same lineage taint as
    * [[fatShuffled]]; each hit is suffixed with a boundedness marker —
    * `!unbounded` when the broadcast subtree contains NO row-bounding node
    * ON THE TAINTED DATAFLOW PATH — a FilterExec with at least one
    * non-IsNotNull conjunct, a GlobalLimit, or a TakeOrderedAndProject
    * whose own output carries the fat taint (planning pushes
    * `isnotnull(joinkey)` filters under EVERY equi-join's broadcast side,
    * so an IsNotNull-only filter must not count as a bound). Two evidence
    * classes the r11 form accepted are deliberately EXCLUDED (r11 ADVICE):
    * a LocalLimitExec bounds rows PER PARTITION only (n_partitions × limit
    * is unbounded in the partition count), and a LocalTableScanExec is an
    * untainted leaf by construction (taint seeds at parquet scans), so
    * either could only ever testify for an UNRELATED branch nested under
    * the exchange — e.g. the bounded build side of an inner join whose
    * probe side is the corpus — masking the exact hazard this census pins.
    * Requiring taint on the bounding node's output ties the evidence to
    * the fat column's own lineage. The marker is a tripwire, not a proof:
    * a filter does not guarantee small cardinality, but every DESIGNED fat
    * broadcast in the engine is parameter-bounded by exactly such a node
    * (vec_id < numQueries probes, limit-k codebooks), so a regression that
    * drops the bound flips the pinned string. */
  def fatBroadcast(p: SparkPlan,
                   fatNames: Set[String] = Set("text", "embedding")): Seq[String] =
    fatCensus(p, fatNames) { (node, taintOf, emit) =>
      node match {
        case x: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec =>
          import org.apache.spark.sql.catalyst.expressions.{And, Expression, IsNotNull}
          def conjuncts(e: Expression): Seq[Expression] = e match {
            case And(l, r) => conjuncts(l) ++ conjuncts(r)
            case other => Seq(other)
          }
          val sub = allNodes(x.child)
          def onTaintedPath(n: SparkPlan): Boolean =
            n.output.exists(a => taintOf(a.exprId).isDefined)
          val bounded = sub.exists {
            case f: org.apache.spark.sql.execution.FilterExec =>
              onTaintedPath(f) && conjuncts(f.condition).exists(!_.isInstanceOf[IsNotNull])
            case g: org.apache.spark.sql.execution.GlobalLimitExec => onTaintedPath(g)
            case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => onTaintedPath(t)
            case _ => false
          }
          val mark = if (bounded) "" else "!unbounded"
          x.output.foreach(a =>
            taintOf(a.exprId).foreach(seed => emit(s"$seed->${a.name}$mark")))
        case _ =>
      }
    }

  /** Shared lineage-taint walk behind [[fatShuffled]] and [[fatBroadcast]]:
    * seeds taint at the parquet scans reading `fatNames`, propagates through
    * identity aliases, persist/reuse rebinds and adaptive curtains, and
    * calls `onNode(node, taintOf, emit)` at every node (children first) so
    * the caller decides which node type constitutes a hazard crossing. */
  private def fatCensus(p: SparkPlan, fatNames: Set[String])(
      onNode: (SparkPlan, ExprId => Option[String], String => Unit) => Unit): Seq[String] = {
    // exprId -> seed column name it (transitively) aliases
    val taint = scala.collection.mutable.Map[ExprId, String]()
    val hits = scala.collection.mutable.SortedSet[String]()
    def walk(node: SparkPlan): Unit = {
      node.children.foreach(walk)
      node match {
        case imts: InMemoryTableScanExec =>
          walk(imts.relation.cachedPlan)
          // When the CacheManager substitutes an entry cached by an
          // EARLIER query, it rebinds the relation's output to fresh
          // exprIds positionally aligned with the cached plan's output
          // (InMemoryRelation.withOutput); the IMTS then selects a subset
          // of relation.output. Remap taint at the RELATION level — full
          // schema on both sides, so positions can't mis-pair the way an
          // imts.output zip would under column pruning. Same-query reuse
          // (identical exprIds) degenerates to a no-op self-map.
          imts.relation.cachedPlan.output.zip(imts.relation.output).foreach {
            case (src, out) => taint.get(src.exprId).foreach(taint(out.exprId) = _)
          }
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.inputPlan)
        case r: ReusedExchangeExec =>
          walk(r.child)
          r.child.output.zip(r.output).foreach {
            case (src, out) => taint.get(src.exprId).foreach(taint(out.exprId) = _)
          }
        case s: FileSourceScanExec =>
          s.output.filter(a => fatNames(a.name))
            .foreach(a => taint(a.exprId) = a.name)
        case _ =>
      }
      node.expressions.foreach(_.foreach {
        case al: Alias => al.child match {
          case ar: AttributeReference =>
            taint.get(ar.exprId).foreach(taint(al.exprId) = _)
          case _ =>
        }
        case _ =>
      })
      onNode(node, taint.get, hits += _)
    }
    walk(p)
    hits.toSeq
  }

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = graft.Session.local(4)
    spark.sparkContext.setLogLevel("ERROR")

    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        // sparkPlan = physical plan before AQE wrapping: fully traversable
        val nodes = allNodes(fn(spark, dir).queryExecution.sparkPlan)
        val cartesian = nodes.collect { case c: CartesianProductExec => c }
        val bnlj = nodes.collect { case j: BroadcastNestedLoopJoinExec => j }
        val fallback = nodes.flatMap(node => node.expressions.flatMap(_.collect {
          case e: CodegenFallback =>
            val n = e.getClass.getSimpleName
            if (n.nonEmpty) n else e.getClass.getName
        })).distinct.sorted
        val fat = nodes.collect {
          case s: FileSourceScanExec =>
            s.output.map(_.name).filter(c => c == "text" || c == "embedding")
        }.flatten.distinct.sorted
        // fat-THROUGH-shuffle census: re-plan for the shape a 100 TB
        // corpus takes — auto-broadcast OFF (small-sf size estimates
        // broadcast the bucket joins, hiding their exchanges), AQE OFF
        // and executedPlan (sparkPlan predates EnsureRequirements, so it
        // contains NO exchanges at all — the r9 name census was blind
        // for that reason, not just because of renames), lineage-traced
        // via [[fatShuffled]]. This census IS pinned in ScaleSpec now.
        val (fatShuffle, fatBcast) = {
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          spark.conf.set("spark.sql.adaptive.enabled", "false")
          spark.catalog.clearCache() // drop frames cached under default conf
          try {
            val plan = fn(spark, dir).queryExecution.executedPlan
            (fatShuffled(plan), fatBroadcast(plan))
          } finally {
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
            spark.conf.set("spark.sql.adaptive.enabled", "true")
          }
        }
        if (cartesian.nonEmpty || bnlj.nonEmpty || fallback.nonEmpty ||
            fat.nonEmpty || fatShuffle.nonEmpty || fatBcast.nonEmpty)
          println(s"""{"q":"$name","cartesian":${cartesian.size},""" +
            s""""bnlj":${bnlj.size},""" +
            s""""fallback":${fallback.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
            s""""fat":${fat.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
            s""""fat_shuffle":${fatShuffle.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
            s""""fat_broadcast":${fatBcast.map("\"" + _ + "\"").mkString("[", ",", "]")}}""")
      } catch {
        case e: Exception => println(s"""{"q":"$name","err":"${e.getClass.getSimpleName}"}""")
      }
    }
    spark.stop()
  }
}
