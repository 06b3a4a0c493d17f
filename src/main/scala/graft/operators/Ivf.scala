package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.PinSyntax._
import graft.functions.VectorExpressions.{dotA, dotF}
import graft.functions.CentroidExpressions.{nearestCentroid, topCentroids}

/** One IVF index shape: how the codebook is sized (`cells`), how many
  * exact-integer Lloyd rounds refine it (`iters`) and how many cells a
  * query probes (`probe`). [[Ivf]] compiles every spec; the DuckDB twins
  * in [[DedupOps]] unroll the same numbers. */
final case class IvfSpec(cells: IvfSpec.Cells, iters: Int, probe: Int)

object IvfSpec {

  /** Codebook sizing law. Every codebook is seeded by the id THRESHOLD:
    * the corpus rows with vec_id below the cell count are the seeds. */
  sealed trait Cells

  /** Cell count of the demo codebook. */
  val DemoCells = 10

  /** [[DemoCells]] fixed cells — the demo codebook (`llm_ivf_ann`). */
  case object Fixed extends Cells

  /** nlist = ceil(√n) flat cells: cell population and probed candidates
    * both grow as √n — the lower-constant index below the crossover. */
  case object Sqrt extends Cells

  /** Two levels: nlist = ceil(n / c) L2 cells of constant population
    * (~c) and an L1 codebook of m = ceil(√nlist) cells over them. A
    * vector ranks only the L2 centroids of its top `l1Probes` L1 cells
    * (training assigns through the top one alone). Candidate volume is
    * linear in n; assignment is ~2·n·√(n/c). */
  final case class PerCell(c: Int, l1Probes: Int) extends Cells

  /** [[Sqrt]] below [[DedupOps.IvfAutoCrossover]] vectors,
    * [[PerCell]]`(c, l1Probes)` at or above it, picked in-plan by
    * [[Ivf.gate]]. */
  final case class Adaptive(c: Int, l1Probes: Int) extends Cells {
    def large: PerCell = PerCell(c, l1Probes)
  }

  /** The fixed demo codebook, untrained, top-2 probes. */
  val Demo = IvfSpec(Fixed, iters = 0, probe = 2)

  /** The untrained √n regime pin (`llm_ivf_scaled_ann`, `llm_ivf_recall`,
    * the IVF stage of `llm_ivfpq_*`). */
  val SqrtUntrained = IvfSpec(Sqrt, iters = 0, probe = 2)

  /** The TRAINED √n index — what [[Auto]] runs at every graded sf.
    *
    * iters = 2 Lloyd rounds measured best on the fixture (3–4 slightly
    * worse: empty cells coalesce stale seeds while dense regions
    * over-merge); recall@3 at sf0.1 moved 0.21 → 0.29 from training
    * alone. probe = 5: recall@3 0.41 at nprobe 4, 0.45 at 5 — 5 clears
    * the ≥2× recall bar over the untrained top-2 chain on both index
    * families. Candidates stay O(probe·C) per query. */
  val SqrtTrained = IvfSpec(Sqrt, iters = 2, probe = 5)

  /** The TRAINED cell-sized two-level index (c = 64). l1Probes = 2: a
    * single-L1 ranking caps the reachable L2 cells at ~√nlist, which
    * measured as the binding recall constraint at sf0.1 — L2 probe widths
    * past ~5 bought nothing at one L1 probe (0.33 flat), while two L1
    * probes moved recall@3 0.33 → 0.43 with FEWER candidate pairs. */
  val CellSized = IvfSpec(PerCell(64, l1Probes = 2), iters = 2, probe = 5)

  /** The production default: trained √n below the crossover, trained
    * cell-sized at or above it. */
  val Auto = IvfSpec(Adaptive(64, l1Probes = 2), iters = 2, probe = 5)
}

/** The IVF index core shared by every vector-dedup and ANN key: one
  * codebook builder ([[build]]), one ranking ([[topCells]]) and its two
  * uses — self-join candidates ([[selfJoin]]) and a base index that delta
  * rows probe ([[baseIndex]]).
  *
  * Every public vector entry point takes RAW (vec_id, embedding) frames;
  * the float-dot `norm` column is computed here ([[normed]]) and never
  * accepted from a caller, so a differently-computed norm cannot shift a
  * verdict off the oracle.
  *
  * Cross-engine discipline: centroids are doubles whose values are
  * EXACT — float seeds widened, trained centroids the integer per-dim sums
  * of floor(x·1e7)-quantized members (order-free, so bit-identical across
  * engines and partitionings; the un-normalized sum serves because cosine
  * is scale-invariant). Rankings order by (raw-double cosine DESC, cid
  * ASC). The DuckDB twins replay the same seeds, rounds and tie-breaks. */
object Ivf {
  import IvfSpec._

  /** A built codebook over a normed corpus: flat, or two levels. */
  private[operators] sealed trait Index

  /** One flat codebook `c2` (cid, cemb, cnorm). */
  private final case class Flat(c2: DataFrame) extends Index

  /** The L1 codebook `c1` (l1id, l1emb, l1norm) and the L2 codebook `c2`
    * (cid, cemb, cnorm, l1) carrying each centroid's L1 cell; rankings
    * draw from a row's top `l1Probes` L1 cells. */
  private final case class TwoLevel(c1: DataFrame, c2: DataFrame,
      l1Probes: Int) extends Index

  /** The base side of a delta check: the index trained on `base` (normed)
    * and fixed for every delta batch, plus each base row's cell
    * `assign(t_id, cell)`. A `resident` index is pinned eagerly, once —
    * the form a stream holds across micro-batches, so its pin count stays
    * constant over an unbounded stream. */
  final case class BaseIndex(spec: IvfSpec, index: Index,
      assign: DataFrame, base: DataFrame, resident: Boolean)

  /** `df` with the canonical float-dot `norm` column. Rejects a frame that
    * already carries one: the index computes its own norms. */
  private[operators] def normed(df: DataFrame): DataFrame = {
    require(!df.columns.contains("norm"),
      "vector entry points take raw (vec_id, embedding) frames; the input " +
        "already has a `norm` column, which the index computes itself")
    df.withColumn("norm",
      sqrt(dotF(df.sparkSession)(col("embedding"), col("embedding"))))
  }

  /** `run` over `spec`'s one-regime form, or — for an adaptive spec —
    * the in-plan adaptive gate: `run` once per regime (`Sqrt`, then
    * `PerCell(c, l1Probes)`) with a filter that keeps a frame's rows only
    * when `sized` falls in that regime, and the union of the two results.
    * The count of `sized` rides a broadcast 1-row aggregate (never a
    * collected literal — the DuckDB twins replay the same gate), so the
    * inactive regime runs over empty frames and exactly one branch result
    * is non-empty.
    *
    * `pinCount`: the base/delta use pins the count lazily (r18): its
    * gated base and delta frames feed separately pinned segments, and the
    * unpinned form planned more exchanges for
    * `llm_semantic_dedup_incremental`. The self-join leaves it unpinned
    * (r19): both gated branches reference the same canonical broadcast,
    * and with the training chains pipelined (no per-segment pin jobs)
    * broadcast reuse computes it once — the r18 lazy pin protected
    * against per-JOB recomputation that no longer exists there. */
  private[operators] def gate(spec: IvfSpec, sized: DataFrame, pinCount: Boolean)(
      run: (IvfSpec, DataFrame => DataFrame) => DataFrame): DataFrame =
    spec.cells match {
      case a: Adaptive =>
        val agg = sized.agg(count(lit(1)).as("ivf_auto_n"))
        val n = broadcast(if (pinCount) agg.pinnedLazy else agg)
        Seq[(Cells, Column => Column)](
          Sqrt -> (_ < lit(DedupOps.IvfAutoCrossover)),
          a.large -> (_ >= lit(DedupOps.IvfAutoCrossover))).map {
          case (cells, pred) => run(spec.copy(cells = cells), df =>
            df.crossJoin(n).filter(pred(col("ivf_auto_n"))).drop("ivf_auto_n"))
        }.reduce(_ unionByName _)
      case _ => run(spec, identity)
    }

  /** Self-join candidates (q_id, t_id), q ≠ t, with the normed corpus
    * the exact-cosine tails score against. One pinned top-`probe` ranking
    * gives both the assignment (rank 1) and the probes. */
  private[graft] def selfJoin(spec: IvfSpec, embDf: DataFrame)
      : (DataFrame, DataFrame) = spec.cells match {
    case _: Adaptive =>
      (gate(spec, embDf, pinCount = false)((one, keep) =>
        selfJoin(one, keep(embDf))._1), normed(embDf))
    case _ =>
      // training re-reads the corpus once per Lloyd round; pin it then
      val e = if (spec.iters > 0) normed(embDf).pinnedLazy else normed(embDf)
      val top = topCells(build(spec, e), e, spec.probe).pinnedLazy
      val assign = top.filter(col("rn") === 1)
        .select(col("vec_id").as("t_id"), col("cid").as("cell"))
      val cand = top.select(col("vec_id").as("q_id"), col("cid").as("cell"))
        .join(assign, Seq("cell"))
        .filter(col("q_id") =!= col("t_id"))
        .select(col("q_id"), col("t_id")).distinct()
      (cand, e)
  }

  /** The index trained on `baseDf` alone, with every base row assigned.
    * In batch form the corpus and the two-level pieces (the L2 codebook
    * and the assignment reach base and delta through keyed joins) are
    * pinned lazily; the flat codebook is a broadcast that exchange reuse
    * already shares. A resident index pins its codebook and assignment
    * eagerly and leaves the base corpus to the caller. */
  private[graft] def baseIndex(spec: IvfSpec, baseDf: DataFrame,
      resident: Boolean): BaseIndex = {
    val base = if (resident) normed(baseDf) else normed(baseDf).pinnedLazy
    val built = build(spec, base)
    def keep(df: DataFrame): DataFrame = built match {
      case _ if resident => Scale.pin(df, eager = true)
      case _: TwoLevel => df.pinnedLazy
      case _: Flat => df
    }
    val index = built match {
      case Flat(c2) => Flat(keep(c2))
      case t: TwoLevel => t.copy(c2 = keep(t.c2))
    }
    val assign = keep(topCells(index, base, 1)
      .select(col("vec_id").as("t_id"), col("cid").as("cell")))
    BaseIndex(spec, index, assign, base, resident)
  }

  /** Delta candidates (q_id, t_id) against a built base index, with the
    * normed delta: each delta row probes its top-`probe` cells. A batch
    * index pins the delta lazily (it feeds the probe scan and both
    * verdict sides); a resident one never pins per micro-batch. */
  private[graft] def deltaCandidates(ix: BaseIndex, deltaDf: DataFrame)
      : (DataFrame, DataFrame) = {
    val delta = if (ix.resident) normed(deltaDf) else normed(deltaDf).pinnedLazy
    val cand = topCells(ix.index, delta, ix.spec.probe)
      .select(col("vec_id").as("q_id"), col("cid").as("cell"))
      .join(ix.assign, Seq("cell"))
      .select(col("q_id"), col("t_id")).distinct()
    (cand, delta)
  }

  /** The top-`k` cells (vec_id, cid, rn) of every `side` row under
    * (sim DESC, cid ASC), chosen from the index shape and `k` alone:
    *  - one level: [[nearestCentroid]] for k = 1, else [[topCentroids]]
    *    over the packed codebook — per-row expressions, no exchange;
    *  - two levels, one L1 probe: [[topCentroids]] inside the row's L1
    *    cell (its L2 set arrives through the l1-keyed join);
    *  - two levels, wider L1 probes: the local top-k of each probed L1
    *    cell, then an argmax (k = 1) or a vec_id window over those ≤
    *    l1Probes·k tiny rows. Any global top-k cell is inside its own L1
    *    cell's local top-k, and probed L1 cells own disjoint L2 sets. */
  private def topCells(ix: Index, side: DataFrame, k: Int): DataFrame = {
    val sp = side.sparkSession
    ix match {
      case Flat(c2) =>
        val s1 = side.select(col("vec_id"), col("embedding"), col("norm"))
          .crossJoin(packedCents(c2))
        if (k == 1)
          s1.select(col("vec_id"), nearestCentroid(sp)(col("embedding"),
            col("norm"), col("cents")).as("cid"), lit(1).as("rn"))
        else rankOf(s1, k)
      case TwoLevel(c1, c2, 1) =>
        rankOf(withL1Cells(c1, 1)(side).join(packedByL1(c2), Seq("l1")), k)
      case TwoLevel(c1, c2, l1Probes) if k == 1 =>
        argmax1(localTopInCells(c1, c2, l1Probes, 1)(side))
          .withColumn("rn", lit(1))
      case TwoLevel(c1, c2, l1Probes) =>
        localTopInCells(c1, c2, l1Probes, k)(side)
          .withColumn("rn", row_number().over(Window.partitionBy(col("vec_id"))
            .orderBy(col("sim").desc, col("cid"))))
          .filter(col("rn") <= k)
          .select(col("vec_id"), col("cid"), col("rn"))
    }
  }

  /** (vec_id, cid, rn) from the [[topCentroids]] array over each row's
    * `cents`: rn = array position + 1. */
  private def rankOf(withCents: DataFrame, k: Int): DataFrame =
    withCents.select(col("vec_id"), posexplode(topCentroids(
        withCents.sparkSession)(col("embedding"), col("norm"), col("cents"), k))
        .as(Seq("pos", "t")))
      .select(col("vec_id"), col("t.cid").as("cid"), (col("pos") + 1).as("rn"))

  /** The codebook of a one-regime spec over the normed corpus `e`:
    * id-threshold seeds, then `iters` exact-integer Lloyd rounds — flat
    * for one level; L1 first (flat), then the L2 seeds refined through the
    * two-level assignment, for two. The sizing scalars ride broadcast
    * 1-row aggregates (in-plan, never collected). */
  private def build(spec: IvfSpec, e: DataFrame): Index = spec.cells match {
    case Fixed =>
      Flat(trainFlat(e, seedCents(e)(_.filter(col("vec_id") < DemoCells)),
        spec.iters))
    case Sqrt =>
      val nl = e.agg(ceil(sqrt(count(lit(1)))).cast("long").as("nlist"))
      Flat(trainFlat(e, seedCents(e)(idsBelow(nl, "nlist")), spec.iters))
    case PerCell(c, l1Probes) =>
      val sizes = e.agg(ceil(count(lit(1)) / lit(c.toDouble))
        .cast("long").as("nlist"))
        .withColumn("m", ceil(sqrt(col("nlist"))).cast("long"))
      // L1 trains first and is then FIXED, so the vector→L1 ranking is
      // computed once per consumer, not once per L2 round; c1 is backed by
      // trainFlat's final pin
      val c1 = trainFlat(e, seedCents(e)(idsBelow(sizes, "m")), spec.iters)
        .select(col("cid").as("l1id"), col("cemb").as("l1emb"),
          col("cnorm").as("l1norm"))
      var c2 = seedCents(e)(idsBelow(sizes, "nlist"))
      for (_ <- 1 to spec.iters) {
        // a training assignment is rank 1 of the vector's TOP-1 L1 cell
        // (l1Probes widens probes only): the vector's L1 cell and its
        // nearest in-cell L2 centroid are both per-row expressions; the
        // L2 codebook reaches the corpus through the l1-keyed join, never
        // a broadcast hint. Each round's codebook is pinned (see trainFlat)
        val assignE = withL1Cells(c1, 1)(e)
          .join(packedByL1(withL1(c1, c2)), Seq("l1"))
          .select(nearestCentroid(e.sparkSession)(
            col("embedding"), col("norm"), col("cents")).as("cell"),
            col("embedding"))
        c2 = updated(c2, assignE)
      }
      TwoLevel(c1, withL1(c1, c2), l1Probes)
    case _: Adaptive =>
      throw new IllegalArgumentException(
        "an adaptive spec has no single codebook; gate it per regime first")
  }

  /** Keeps the rows of a frame whose vec_id is below `sizes`' column
    * `bound`. */
  private def idsBelow(sizes: DataFrame, bound: String)(df: DataFrame)
      : DataFrame =
    df.crossJoin(broadcast(sizes)).filter(col("vec_id") < col(bound))

  /** Id-threshold seed codebook in the DOUBLE domain (cemb = the exact
    * float→double widening the oracles' ::DOUBLE[] cast makes), so seed
    * and trained centroids flow through one arithmetic path. */
  private def seedCents(e: DataFrame)(keep: DataFrame => DataFrame)
      : DataFrame =
    withCNorm(keep(e).select(col("vec_id").as("cid"),
      col("embedding").cast("array<double>").as("cemb")))

  private def withCNorm(c: DataFrame): DataFrame =
    c.withColumn("cnorm", sqrt(dotA(c.sparkSession)(col("cemb"), col("cemb"))))

  /** `iters` Lloyd rounds of a FLAT codebook over the normed corpus `e`:
    * nearest-cell is a per-row expression over the packed codebook, so a
    * round's only shuffle is the map-side-combined centroid update.
    *
    * Each round's codebook stays PINNED (lazily): round i+1 references
    * c_i twice (the packed aggregate and the empty-cell coalesce), and
    * column pruning rewrites the two references differently, so their
    * exchanges do not canonicalize equal and exchange reuse cannot dedupe
    * the recompute — the pin-free chain measured worse (llm_ivf2_ann warm
    * construct 2.4 s pinned → 3.5 s unpinned). */
  private def trainFlat(e: DataFrame, seed: DataFrame, iters: Int)
      : DataFrame = {
    var c = seed
    for (_ <- 1 to iters) {
      val assignE = e.select(col("embedding"), col("norm"))
        .crossJoin(packedCents(c))
        .select(nearestCentroid(e.sparkSession)(
          col("embedding"), col("norm"), col("cents")).as("cell"),
          col("embedding"))
      c = updated(c, assignE)
    }
    c
  }

  /** One exact-integer centroid update: each cell becomes the per-dim sum
    * of its members' floor(x·1e7)-quantized coordinates (ONE
    * [[graft.functions.QuantSumVecExpr]] aggregate over the (cell,
    * embedding) assignment); an empty cell keeps its previous centroid
    * through the deterministic left-join coalesce the DuckDB twins mirror.
    * Pinned lazily — see [[trainFlat]]. */
  private def updated(c: DataFrame, assignE: DataFrame): DataFrame = {
    val sums = assignE.groupBy(col("cell"))
      .agg(graft.functions.QuantSumVecExpr.quantSumVec(assignE.sparkSession)(
        col("embedding")).as("sums"))
      .select(col("cell").as("cid"),
        expr("transform(sums, s -> CAST(s AS DOUBLE))").as("cemb"))
    withCNorm(c.select(col("cid"), col("cemb").as("prev_cemb"))
      .join(sums, Seq("cid"), "left")
      .select(col("cid"), coalesce(col("cemb"), col("prev_cemb")).as("cemb")))
      .pinnedLazy
  }

  /** The rank-1 cid of a scored (vec_id, cid, sim) frame by ONE
    * map-side-combinable hash aggregate: max over struct(sim, -cid)
    * replicates the (sim DESC, cid ASC) order, NaN-first included (NaN is
    * the largest double in Spark's total order for both window sorts and
    * max; ids are non-negative). */
  private def argmax1(scored: DataFrame): DataFrame =
    scored.groupBy(col("vec_id"))
      .agg(max(struct(col("sim").as("s"), (-col("cid")).as("neg"),
        col("cid").as("picked"))).as("m"))
      .select(col("vec_id"), col("m.picked").as("cid"))

  /** One packed-codebook struct element — field order is the
    * [[graft.functions.CentroidImpl]] access contract (cid, cemb, cnorm);
    * cid cast to long so the impl's getLong holds for int-typed ids. */
  private def centStruct(cid: Column, cemb: Column, cnorm: Column): Column =
    struct(cid.cast("long").as("cid"), cemb.as("cemb"), cnorm.as("cnorm"))

  /** The codebook collapsed into ONE broadcast row holding
    * array<struct<cid, cemb, cnorm>> — the input of the per-row selection
    * expressions. Element order is irrelevant: the (sim DESC, cid ASC)
    * selection order is total. */
  private def packedCents(c: DataFrame, cid: String = "cid",
      cemb: String = "cemb", cnorm: String = "cnorm"): DataFrame =
    broadcast(c.agg(collect_list(
      centStruct(col(cid), col(cemb), col(cnorm))).as("cents")))

  /** L2 codebook joined to its nearest L1 cell (`l1`), a per-row
    * expression over the packed L1 codebook. */
  private def withL1(c1: DataFrame, c2: DataFrame): DataFrame =
    c2.crossJoin(packedCents(c1, "l1id", "l1emb", "l1norm"))
      .withColumn("l1", nearestCentroid(c2.sparkSession)(
        col("cemb"), col("cnorm"), col("cents")))
      .drop("cents")

  /** `side` rows annotated with their probed L1 cells — one row per
    * (vector, probed cell), embedding and norm kept. One probe rides
    * [[nearestCentroid]] (no row growth); wider probes explode the
    * [[topCentroids]] array. */
  private def withL1Cells(c1: DataFrame, l1Probes: Int)(side: DataFrame)
      : DataFrame = {
    val sp = side.sparkSession
    val s1 = side.select(col("vec_id"), col("embedding"), col("norm"))
      .crossJoin(packedCents(c1, "l1id", "l1emb", "l1norm"))
    if (l1Probes == 1)
      s1.select(col("vec_id"), col("embedding"), col("norm"),
        nearestCentroid(sp)(col("embedding"), col("norm"), col("cents"))
          .as("l1"))
    else
      s1.select(col("vec_id"), col("embedding"), col("norm"),
        explode(topCentroids(sp)(col("embedding"), col("norm"), col("cents"),
          l1Probes)).as("lt"))
        .select(col("vec_id"), col("embedding"), col("norm"),
          col("lt.cid").as("l1"))
  }

  /** The L2 codebook packed per L1 cell: (l1, array<struct<cid, cemb,
    * cnorm>>). The corpus reaches it through the l1-keyed equi-join (the
    * planner may still broadcast the ≤ m packed rows when they fit). */
  private def packedByL1(c2full: DataFrame): DataFrame =
    c2full.groupBy(col("l1"))
      .agg(collect_list(centStruct(col("cid"), col("cemb"), col("cnorm")))
        .as("cents"))

  /** Per-(vector, probed-L1-cell) LOCAL top-`k` L2 cells (vec_id, sim,
    * cid) — ≤ l1Probes·k rows per vector. */
  private def localTopInCells(c1: DataFrame, c2full: DataFrame,
      l1Probes: Int, k: Int)(side: DataFrame): DataFrame =
    withL1Cells(c1, l1Probes)(side)
      .join(packedByL1(c2full), Seq("l1"))
      .select(col("vec_id"), explode(topCentroids(side.sparkSession)(
        col("embedding"), col("norm"), col("cents"), k)).as("t"))
      .select(col("vec_id"), col("t.sim").as("sim"), col("t.cid").as("cid"))
}
