package graft

import java.nio.file.Files

import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, Bin, CaseWhen, Cast, DateDiff, DayOfMonth, DayOfWeek, EqualTo, ExprId, Expression, Hour, If, IntegralDivide, IsNotNull, LambdaFunction, Least, Length, Literal, Minute, Month, Multiply, Pmod, Quarter, Remainder, TimeWindow, TruncDate, TruncTimestamp, WeekDay, WeekOfYear, Year}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, LocalRelation, LogicalPlan, OneRowRelation, Project, Range, SubqueryAlias, Filter => LFilter, Join => LJoin}
import org.apache.spark.sql.execution.{ExpandExec, FileSourceScanExec, FilterExec, GlobalLimitExec, LocalLimitExec, LogicalRDD, ProjectExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.DateType

/** The SCALE.md plan audit as a regression test: every `SparkEntry.queries`
  * plan is inspected (pre-AQE physical plan — planning only, nothing runs,
  * except q_dedup_cc whose construction executes its bounded label-
  * propagation rounds eagerly; its guarded plan is the checkpointed result)
  * and the 100 TB invariants asserted, so a future edit that silently
  * degrades a plan fails the suite instead of the next bench round.
  */
class PlanGuardSpec extends SparkSpec {

  private val sf = PlanCorpus.sf

  // one default-conf corpus shared with ExplainSweepSpec (see PlanCorpus)
  private lazy val dfs: Map[String, org.apache.spark.sql.DataFrame] =
    PlanCorpus.dfs

  private lazy val plans: Map[String, SparkPlan] = PlanCorpus.plans

  /** Tables that scale with the data — a raw (unreduced) broadcast of any
    * of these is an OOM at 100 TB. */
  private val factTables = Seq("lineitem", "orders", "events", "documents", "embeddings")

  /** The CONSTRUCTIVE BNLJ sanction (VERDICT r8 #6 — replaces the
    * per-entry name list, which had grown to 22 sites), hardened to the
    * KEY-DOMAIN recursion in r12 (VERDICT r11 #7): a BNLJ build side is a
    * FORCED broadcast too — a non-equi join has no partitioned strategy,
    * so size-based re-planning cannot save an unbounded side at scale —
    * and "contains an aggregate somewhere" was exactly the r10 loophole
    * the hint audit closed (a vocabulary aggregate is reduced but grows
    * with the corpus). The physical recursion mirrors
    * [[boundedBroadcastSide]]: a global aggregate, an aggregate on
    * bounded keys (or over an already-bounded child), a selective
    * filter, a limit, or a subtree free of fact-scale file scans
    * (theta-contains' reference dims, seed LocalRelations, checkpointed
    * model-scale RDD scans). A raw or vocabulary-aggregated fact build
    * side fails, whatever sits above it. */
  private def defMapP(p: SparkPlan): Map[ExprId, Expression] = {
    val local: Map[ExprId, Expression] = p match {
      case pr: ProjectExec =>
        pr.projectList.collect { case al: Alias => al.exprId -> al.child }.toMap
      case a: BaseAggregateExec =>
        (a.resultExpressions ++ a.groupingExpressions)
          .collect { case al: Alias => al.exprId -> al.child }.toMap
      case _ => Map.empty
    }
    p.children.foldLeft(local) { case (m, c) => m ++ defMapP(c) }
  }

  private def isFactFileScan(s: FileSourceScanExec): Boolean =
    factTables.exists(t =>
      s.relation.location.rootPaths.exists(_.toString.contains(s"/$t.parquet")))

  private def boundedBuildSide(p: SparkPlan,
      defs: Map[ExprId, Expression]): Boolean = p match {
    case a: BaseAggregateExec =>
      a.groupingExpressions.isEmpty ||
        a.groupingExpressions.forall(g => isBoundedKey(g, defs)) ||
        boundedBuildSide(a.child, defs)
    case f: FilterExec =>
      isSelective(f.condition) || boundedBuildSide(f.child, defs)
    case j: BaseJoinExec => j.joinType match {
      case LeftSemi | LeftAnti => boundedBuildSide(j.left, defs)
      case _ => j.children.forall(boundedBuildSide(_, defs))
    }
    case _: GlobalLimitExec | _: LocalLimitExec | _: TakeOrderedAndProjectExec => true
    case s: FileSourceScanExec => !isFactFileScan(s)
    // non-file leaves (LocalTableScan, Range, checkpointed RDD scans) are
    // model/metadata-scale by the repo's collect discipline
    case l if l.children.isEmpty => true
    case other => other.children.forall(boundedBuildSide(_, defs))
  }

  test("every BroadcastNestedLoopJoin build side is bounded by construction") {
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    for ((name, plan) <- plans) {
      lazy val defs = defMapP(plan)
      for (j <- plan.collect { case j: BroadcastNestedLoopJoinExec => j }) {
        val build = j.buildSide match {
          case BuildLeft  => j.left
          case BuildRight => j.right
        }
        assert(boundedBuildSide(build, defs),
          s"$name plans a BNLJ whose build side has no bounded key domain " +
            s"(not globally aggregated, bounded-key aggregated, selectively " +
            s"filtered, limited, or dim-only):\n$build")
      }
    }
    // canary: the invariant is exercised, not vacuous
    assert(plans("q_theta_contains")
      .collect { case j: BroadcastNestedLoopJoinExec => j }.nonEmpty)
    // negative control (VERDICT r11 #7): the r10 vocabulary shape pushed
    // through a NON-EQUI join — a corpus-vocabulary aggregate broadcast as
    // a BNLJ build side — must FAIL the audit (the old aggregate-presence
    // rule passed it)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val vocab = docs
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split(col("text"), " ")).as("term"))
      .groupBy(col("term")).agg(
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
    val badPlan = docs
      .join(org.apache.spark.sql.functions.broadcast(vocab),
        col("doc_id") > col("n"))
      .queryExecution.sparkPlan
    val badBuilds = badPlan.collect { case j: BroadcastNestedLoopJoinExec =>
      j.buildSide match {
        case BuildLeft  => j.left
        case BuildRight => j.right
      }
    }
    assert(badBuilds.nonEmpty, "BNLJ negative control lost its nested loop")
    assert(!badBuilds.forall(boundedBuildSide(_, defMapP(badPlan))),
      "the BNLJ audit passed a corpus-vocabulary build side — the r10 " +
        "loophole re-entered through a non-equi join")
  }

  test("no raw array/map/struct column in any registry output schema") {
    // The driver's correctness gate lexsorts result rows in pandas before
    // hashing; a raw ArrayType column crashes that sort (round 8's
    // q_media_features: "unhashable type: numpy.ndarray"). Nested results
    // must be serialized — array_join/to_json, the collectTypes discipline.
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    for ((name, df) <- dfs; f <- df.schema.fields) {
      val nested = f.dataType.isInstanceOf[ArrayType] ||
        f.dataType.isInstanceOf[MapType] || f.dataType.isInstanceOf[StructType]
      assert(!nested,
        s"$name emits ${f.name}: ${f.dataType.simpleString} — the driver's " +
          "row-sorted compare cannot hash it; serialize it (array_join)")
    }
  }

  test("no CartesianProduct in any query plan") {
    for ((name, plan) <- plans) {
      val cart = plan.collect { case j: CartesianProductExec => j }
      assert(cart.isEmpty, s"$name plans a CartesianProduct")
    }
  }

  test("no unpartitioned window in any query plan") {
    for ((name, plan) <- plans) {
      val global = plan.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
      assert(global.isEmpty, s"$name plans a single-partition (global) window sort")
    }
  }

  /** A predicate counts as SELECTIVE only if some conjunct is more than an
    * IsNotNull: planner-inserted null guards on join keys filter almost
    * nothing, so a raw fact broadcast behind one must still fail the
    * invariant (ADVICE r4). */
  private def isSelective(e: Expression): Boolean = e match {
    case And(l, r)    => isSelective(l) || isSelective(r)
    case _: IsNotNull => false
    case _            => true
  }

  // ------------------------------------------------------------------
  // Key-domain boundedness audit for HINT-forced broadcasts (VERDICT/
  // ADVICE r10). Two lessons folded in:
  //
  // 1. The old form of this test collected BroadcastExchangeExec from
  //    `queryExecution.sparkPlan` — but exchanges are only inserted by
  //    EnsureRequirements into the EXECUTED plan, so the old test was
  //    VACUOUS (it matched nothing, ever). That vacuum is how r10's
  //    corpus-vocabulary broadcasts shipped.
  // 2. The right audit target is the EXPLICIT `broadcast()` hint, read
  //    from the optimized LOGICAL plan: a hint forces the broadcast at
  //    EVERY scale, so the hinted frame must have a BOUNDED key domain
  //    (not merely "an aggregate below it" — r10's loophole: a vocabulary
  //    aggregate is reduced but grows with the corpus under Heaps' law).
  //    SIZE-based broadcasts are deliberately out of scope: the planner
  //    re-chooses them from size estimates at real scale and AQE
  //    re-plans at runtime, so they adapt; hints do not.
  //
  // A hinted side is bounded when the recursion below proves its row
  // domain independent of fact cardinality: a global aggregate (1 row),
  // an aggregate on bounded-domain keys (enum columns, calendar
  // extractions, mod-by-literal, literal-clamped or adaptive-decile
  // bins), a LIMIT, dim-only scans, a selective filter (the historical
  // probe-set sanction), or an aggregate whose keys are equi-bound to a
  // bounded side through a semi/inner join (the probe-term postings
  // shape). Anything else — a vocabulary, an edge list, a per-item count
  // — fails loudly here and must join partitioned or switch on a counted
  // runtime bound (GraphOps.KtrussBroadcastMaxEdges).
  // ------------------------------------------------------------------

  /** Scan-level columns with data-independent domains (enums, bounded
    * reference keys). Grouping keys resolving to ONLY these are bounded. */
  private val boundedCols = Set(
    "source", "lang", "label", "event_type",
    "o_orderpriority", "o_orderstatus",
    "l_returnflag", "l_linestatus", "l_shipmode", "l_quantity", "l_linenumber",
    "c_mktsegment", "c_nationkey", "s_nationkey", "n_nationkey", "n_regionkey",
    "r_regionkey", "p_brand", "p_mfgr", "p_container", "p_size")

  private def isFactScan(p: LogicalPlan): Boolean = p match {
    case r: LogicalRelation => r.relation match {
      case h: HadoopFsRelation => h.location.rootPaths.exists(pth =>
        factTables.exists(t => pth.toString.endsWith(s"/$t.parquet")))
      case _ => true
    }
    case _ => false
  }

  /** exprId → defining expression, over the whole subtree, so grouping
    * keys resolve through Project/Aggregate aliases back to scan columns. */
  private def defMap(plan: LogicalPlan): Map[ExprId, Expression] = {
    val local: Map[ExprId, Expression] = plan match {
      case p: Project =>
        p.projectList.collect { case al: Alias => al.exprId -> al.child }.toMap
      case a: Aggregate =>
        a.aggregateExpressions.collect { case al: Alias => al.exprId -> al.child }.toMap
      case _ => Map.empty
    }
    plan.children.foldLeft(local) { case (m, c) => m ++ defMap(c) }
  }

  private def resolveExpr(e: Expression, defs: Map[ExprId, Expression]): Expression = {
    var cur = e
    var changed = true
    var i = 0
    while (changed && i < 8) {
      var hit = false
      cur = cur.transformUp {
        case a: AttributeReference if defs.contains(a.exprId) => hit = true; defs(a.exprId)
      }
      changed = hit; i += 1
    }
    cur
  }

  /** A grouping expression has a bounded domain when it references only
    * bounded columns, or passes through a domain-bounding form: calendar
    * extraction (the domain grows with wall time, not data volume),
    * mod-by-literal, a literal upper clamp, or the repo's adaptive-decile
    * idiom (x·K div max-expr — at most K+1 values by construction). */
  private def isBoundedKey(e: Expression, defs: Map[ExprId, Expression]): Boolean = {
    val r = resolveExpr(e, defs)
    def bounding(x: Expression): Boolean = x match {
      case _: Year | _: Month | _: DayOfMonth | _: DayOfWeek | _: WeekDay
           | _: Hour | _: Minute | _: Quarter | _: WeekOfYear => true
      case c: Cast => c.dataType == DateType
      case _: TruncDate | _: TruncTimestamp | _: TimeWindow => true
      // a difference of two DATES is calendar-bounded like the
      // extractions above: its domain is the observable time span,
      // growing with wall time, never with data volume (q_survival's
      // lifetime weeks)
      case _: DateDiff => true
      case Pmod(_, Literal(_, _), _) => true
      case Remainder(_, Literal(_, _), _) => true
      case l: Least => l.children.exists(_.isInstanceOf[Literal])
      case IntegralDivide(m: Multiply, _, _) => m.children.exists(_.isInstanceOf[Literal])
      // a CASE/IF whose every branch VALUE is a literal has a domain of
      // at most #branches+1 values, whatever its predicates read
      // (q_cuped_strat's adaptive stratum label)
      case cw: CaseWhen =>
        cw.branches.forall(_._2.isInstanceOf[Literal]) &&
          cw.elseValue.forall(_.isInstanceOf[Literal])
      case If(_, t: Literal, f: Literal) => true
      // bit length: length(bin(x)) has domain <= 64 (q_zipf_fit's
      // log2 frequency buckets)
      case Length(_: Bin) => true
      case _ => false
    }
    // Per-LEAF coverage (ADVICE r11): every AttributeReference must be a
    // bounded column or sit UNDER a bounding operator on its path from
    // the root. The old single `r.exists(bounding)` over the whole tree
    // let a composite key like concat(term, hour(ts)) pass on the
    // strength of its bounded component while still carrying an
    // unbounded corpus-scale one — the r10 loophole class re-entering
    // through composition. A bounding node bounds its whole subtree
    // (the clamp/mod/calendar DOMAIN is what's bounded, whatever feeds
    // it); anything else must prove every child.
    def covered(x: Expression): Boolean = x match {
      case a: AttributeReference => boundedCols(a.name)
      case b if bounding(b) => true
      case other => other.children.forall(covered)
    }
    covered(r)
  }

  /** Row-domain boundedness of a hinted broadcast side. */
  private def boundedBroadcastSide(plan: LogicalPlan,
      defs: Map[ExprId, Expression]): Boolean = plan match {
    case a: Aggregate =>
      a.groupingExpressions.isEmpty ||
        a.groupingExpressions.forall(g => isBoundedKey(g, defs)) ||
        boundedBroadcastSide(a.child, defs) || aggKeysSemiBounded(a, defs)
    case f: LFilter => isSelective(f.condition) || boundedBroadcastSide(f.child, defs)
    case j: LJoin => j.joinType match {
      case LeftSemi | LeftAnti => boundedBroadcastSide(j.left, defs)
      case _ => boundedBroadcastSide(j.left, defs) && boundedBroadcastSide(j.right, defs)
    }
    case _: GlobalLimit => true
    case _: LocalRelation | _: Range | _: OneRowRelation => true
    case r: LogicalRelation => !isFactScan(r)
    case l if l.children.isEmpty => false
    case other => other.children.forall(boundedBroadcastSide(_, defs))
  }

  /** An aggregate whose keys are all equi-bound to a bounded join side is
    * itself bounded — the probe-term postings shape: the semi/inner join
    * restricts the key domain to the bounded side's keys BEFORE the
    * aggregate, so the aggregate's output is probe-scale even though the
    * big side is the corpus. Peels through intermediate aggregates whose
    * keys contain the outer keys (a dedup step preserves the bound). */
  private def aggKeysSemiBounded(a: Aggregate,
      defs: Map[ExprId, Expression]): Boolean = {
    def peel(p: LogicalPlan): LogicalPlan = p match {
      case Project(_, c) => peel(c)
      case LFilter(_, c) => peel(c)
      case SubqueryAlias(_, c) => peel(c)
      case inner: Aggregate
          if a.groupingExpressions.forall(g =>
            inner.groupingExpressions.exists(_.semanticEquals(g))) => peel(inner.child)
      case _ => p
    }
    peel(a.child) match {
      case j: LJoin if j.joinType == LeftSemi || j.joinType == Inner =>
        val eqs = j.condition.toSeq.flatMap(_.collect { case EqualTo(x, y) => (x, y) })
        def keysBoundTo(big: LogicalPlan, small: LogicalPlan): Boolean = {
          val bigKeys = eqs.collect {
            case (x, y) if x.references.subsetOf(big.outputSet) &&
              y.references.subsetOf(small.outputSet) => x
            case (x, y) if y.references.subsetOf(big.outputSet) &&
              x.references.subsetOf(small.outputSet) => y
          }
          a.groupingExpressions.nonEmpty &&
            a.groupingExpressions.forall(g => bigKeys.exists(_.semanticEquals(g)))
        }
        (boundedBroadcastSide(j.right, defs) && keysBoundTo(j.left, j.right)) ||
          (boundedBroadcastSide(j.left, defs) && keysBoundTo(j.right, j.left))
      case _ => false
    }
  }

  private def hintedBroadcastSides(plan: LogicalPlan): Seq[LogicalPlan] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[LogicalPlan]
    plan.foreach {
      case j: LJoin =>
        for ((h, side) <- Seq((j.hint.leftHint, j.left), (j.hint.rightHint, j.right))
             if h.exists(_.strategy.exists(_.toString.contains("broadcast"))))
          out += side
      case _ =>
    }
    out.toSeq
  }

  test("every hint-forced broadcast side has a bounded key domain") {
    for ((name, df) <- dfs) {
      val plan = df.queryExecution.optimizedPlan
      val defs = defMap(plan)
      for (side <- hintedBroadcastSides(plan)) {
        assert(boundedBroadcastSide(side, defs),
          s"$name hint-broadcasts a side whose key domain grows with the data " +
            s"(a 100 TB OOM — join it partitioned, or bound it at runtime like " +
            s"GraphOps.ktrussSupports):\n${side.treeString.split("\n").take(12).mkString("\n")}")
      }
    }
    // negative control: a vocabulary aggregate under a forced broadcast —
    // exactly r10's q_perplexity_eval shape — must FAIL the audit (the old
    // aggregate-presence rule passed it; key-domain boundedness must not)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val vocab = docs
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split(col("text"), " ")).as("term"))
      .groupBy(col("term")).count()
    val badPlan = docs
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split(col("text"), " ")).as("term"))
      .join(org.apache.spark.sql.functions.broadcast(vocab), Seq("term"))
      .queryExecution.optimizedPlan
    val badSides = hintedBroadcastSides(badPlan)
    assert(badSides.nonEmpty, "negative control lost its hint")
    assert(!badSides.forall(boundedBroadcastSide(_, defMap(badPlan))),
      "the audit passed a corpus-vocabulary broadcast — the r10 loophole is back")
    // composite-key negative control (ADVICE r11): a key that CONTAINS a
    // bounded component but still carries the corpus-scale one —
    // concat(term, doc_id % 10) — must fail too; the old whole-tree
    // exists(bounding) passed it on the strength of the mod-10 subtree
    def termMod(d: org.apache.spark.sql.DataFrame) = d
      .select(org.apache.spark.sql.functions.explode(
          org.apache.spark.sql.functions.split(col("text"), " ")).as("term"),
        col("doc_id"))
      .select(org.apache.spark.sql.functions.concat(col("term"),
        col("doc_id") % 10).as("term_mod"))
    val compositeVocab = termMod(docs).groupBy(col("term_mod")).count()
    val badComposite = termMod(docs)
      .join(org.apache.spark.sql.functions.broadcast(compositeVocab), Seq("term_mod"))
      .queryExecution.optimizedPlan
    val badCompositeSides = hintedBroadcastSides(badComposite)
    assert(badCompositeSides.nonEmpty, "composite negative control lost its hint")
    assert(!badCompositeSides.forall(boundedBroadcastSide(_, defMap(badComposite))),
      "the audit passed a composite term+hour vocabulary broadcast — the " +
        "per-leaf coverage rule regressed to whole-tree exists()")
  }

  test("no higher-order lambda inside any Filter condition") {
    // Predicate pushdown substitutes projected expressions into filters
    // with NO duplication guard (unlike CollapseProject): a lambda that
    // references a projected array re-derives that array PER ELEMENT once
    // inlined — the O(tokens²) blowup q_curation_pipeline hit (6.6 s vs
    // 0.9 s at sf0.1) when its gate filter swallowed the bigram transform.
    // Expensive array work must sit behind an aggregate/generate barrier;
    // this pins that no future entry reintroduces the shape.
    for ((name, plan) <- plans) {
      val offenders = plan.collect {
        case f: FilterExec
            if f.condition.collectFirst { case l: LambdaFunction => l }.nonEmpty => f
      }
      assert(offenders.isEmpty,
        s"$name evaluates a higher-order lambda inside a Filter: ${offenders.headOption}")
    }
  }

  test("the two-phase multi-distinct rewrite plans no Expand") {
    // the point of the escape hatch: 4 exact COUNT(DISTINCT)s without the
    // 4x pre-shuffle row replication (VERDICT r4 next-round #6)
    assert(plans("q_multi_count_distinct")
      .collect { case e: ExpandExec => e }.nonEmpty,
      "baseline q_multi_count_distinct should show the Expand being escaped")
    assert(plans("q_multi_count_distinct_twophase")
      .collect { case e: ExpandExec => e }.isEmpty,
      "q_multi_count_distinct_twophase plans an Expand — the rewrite regressed")
  }

  test("the CC propagation round plans hash join + combining aggregate only") {
    // q_dedup_cc's loop executes eagerly, so the whole-query guards above
    // only ever see its checkpointed stub — audit the per-round plan the
    // loop actually pays, LAZILY, via the factored-out round builder
    val edges = graft.queries.TextOps.ccEdges(spark, sf)
    val labels = edges.select(col("src").as("doc_id"))
      .distinct().withColumn("comp", col("doc_id"))
    val round = graft.queries.TextOps
      .ccRound(labels, edges).queryExecution.sparkPlan
    assert(round.collect { case j: CartesianProductExec => j }.isEmpty)
    assert(round.collect { case j: BroadcastNestedLoopJoinExec => j }.isEmpty)
    assert(round.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }.isEmpty)
    // the neighbor-min aggregate must combine map-side (partial_min)
    assert(round.collect { case a: BaseAggregateExec => a }
      .exists(_.aggregateExpressions.exists(_.toString.contains("partial_min"))),
      "CC round's neighbor-min aggregate lost its map-side partial")
  }

  test("LM/DSIR pay the bigram explode twice (train + score), never per model") {
    // ADVICE r7: dsirWeights' docstring claimed one exploded pass while
    // the plan ran it per consumer (3x). The conditional-aggregate
    // restructure bounds it at two document scans — one LM-train pass,
    // one re-score pass — independent of how many models are trained.
    for (name <- Seq("q_lm_score", "q_dsir")) {
      val scans = plans(name).collect { case s: FileSourceScanExec => s }
      assert(scans.size === 2,
        s"$name plans ${scans.size} file scans; the tokenize+explode pass " +
          "must run exactly twice (train + score)")
    }
  }

  test("EP1 staging (the 100 TB front door) plans no window at all") {
    val dir = Files.createTempDirectory("graft-planguard")
    val stg = graft.etl.Ingest.stageObservations(spark, graft.etl.DopiFixture.write(dir))
    assert(stg.queryExecution.sparkPlan.collect { case w: WindowExec => w }.isEmpty)
  }

  /** EP1 over a small generated fixture, then the EP2 frames over it. */
  private lazy val etl = {
    val paths = graft.etl.EtlFixture.write(Files.createTempDirectory("graft-planguard-etl"), 300)
    val oltp = graft.etl.Pipeline.runEtl1(spark,
      paths.institutions, paths.users, paths.observationsDir)
    val dims = graft.olap.Dims.build(oltp)
    (oltp, dims ++ graft.olap.Facts.build(oltp, dims))
  }

  test("every table runEtl1 returns is a lineage leaf: EP2 plans scan no file") {
    val (oltp, ep2) = etl
    oltp.foreach { case (name, df) =>
      val leaves = df.queryExecution.analyzed.collectLeaves()
      assert(leaves.size === 1 &&
        leaves.forall { case _: LogicalRDD | _: LocalRelation => true; case _ => false },
        s"$name is not a leaf over its materialized rows: $leaves")
    }
    ep2.foreach { case (name, df) =>
      assert(df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }.isEmpty,
        s"$name re-reads EP1's input files")
    }
  }

  test("EP2 (Dims.build + Facts.build) plans no unpartitioned window") {
    etl._2.foreach { case (name, df) =>
      val global = df.queryExecution.sparkPlan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w }
      assert(global.isEmpty, s"$name plans a single-task global window")
    }
  }
}
