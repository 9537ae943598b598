package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * In-context pretraining layout (Shi et al. 2023, "In-Context
 * Pretraining: Language Modeling Beyond Document Boundaries"):
 * order the corpus so RELATED documents land in the same training
 * sequence, instead of the iid md5 shuffle of
 * [[Packing.packSequences]]. The reference pipeline (gigapi-querier
 * delegates ordering to its engine's ORDER BY — `querier/query.go`
 * has no layout operator; this is a pipeline-family addition) is the
 * standard two-stage recipe: a kNN document graph, then a greedy
 * maximum-similarity walk through each connected component, then
 * sequence packing along the walk.
 *
 * The walk contract (every rule engine-independent and total):
 *   - components come from [[ConnectedComponents.run]] (min-label);
 *     nodes absent from the edge list are their own singleton
 *     component,
 *   - the walk starts at the component's (max degree, min hash40,
 *     min id) node — degree is an exact integer, never a float
 *     weight sum,
 *   - each step moves to the unvisited neighbor with the largest
 *     edge weight (ties: min [[Sampling.hash40]], then min id);
 *     a stuck walk (all neighbors visited) jumps to the unvisited
 *     component member with the smallest (hash40, id),
 *   - components are laid out by their minimum member hash40 (id
 *     tie-break) — deterministic corpus-level mixing, so the layout
 *     does not inherit crawl-order id bias between clusters.
 *
 * Scale shape: the walk is inherently sequential PER COMPONENT, so
 * it runs inside one `flatMapGroups` task per component — fine
 * exactly because degree-bounded kNN components are small. A
 * component larger than `maxComponent` NEVER reaches a walk task
 * (a distributed size census routes it first — buffering a giant
 * component's adjacency before deciding to fall back would be the
 * OOM the cap exists to prevent): its members get plain (hash40, id)
 * order within the component straight through the distributed prefix
 * sum (related docs still co-locate componentwise), flagged
 * `walked = false` — observable per row, never silent.
 * Adjacency lists are capped at `maxDegree` (top by weight, hash
 * tie-break) so task memory is O(component × maxDegree). The global
 * ordinal is assigned by [[Packing]]'s two-phase distributed prefix
 * sum over the (component key, position) order — never a single-task
 * global window.
 */
object ContextLayout {

  /**
   * Greedy similarity-walk ordering of a node set under an explicit
   * weighted edge list. @return (id, component, ord, walked): `ord`
   * is the 0-based global layout ordinal, `component` the min-label
   * component id, `walked` false only for over-`maxComponent`
   * fallback components.
   */
  def contextOrder(nodes: DataFrame, idCol: String, edges: DataFrame,
                   aCol: String, bCol: String, wCol: String,
                   maxComponent: Int = 1 << 16, maxDegree: Int = 64,
                   salt: String = "s0", partitions: Int = 32): DataFrame = {
    val walked = walkedFrame(nodes, idCol, edges, aCol, bCol, wCol,
      maxComponent, maxDegree, salt)
    // global ordinal: two-phase prefix sum with unit weights over the
    // (component key, component, position, id) order — `ord` = number
    // of docs laid out before this one, computed distributed. The
    // four fields ride as plain long key columns (all guarded
    // non-negative in walkedFrame, so field-by-field numeric order ≡
    // the old 79-char zero-padded string) — 32 key bytes through the
    // range shuffle instead of a string whose shared zero-padding
    // defeated short-circuit comparison (§2.3)
    val ord = Packing.prefixByKey(
      walked.withColumn("__one", lit(1L)),
      Seq(col("comp_key"), col("comp"), col("third"), col("id")),
      "id", "__one", partitions)
    // the layout is the natural input to BOTH a packing pass and an
    // audit/join-back (see inContextLayout) — materialize the n×4
    // scalar result so consumers never re-run the assembly join
    walked.join(ord, Seq("id"))
      .select(col("id"), col("comp").as("component"),
        col("cum_before").as("ord"), col("walked"))
      .localCheckpoint(true)
  }

  /** CC + size census + per-component greedy walk: the checkpointed
    * (id, comp, comp_key, third, walked) frame whose (comp_key, comp,
    * third, id) order IS the layout — shared by [[contextOrder]] and
    * the fused [[orderAndPackSequences]]. */
  private def walkedFrame(nodes: DataFrame, idCol: String, edges: DataFrame,
                          aCol: String, bCol: String, wCol: String,
                          maxComponent: Int, maxDegree: Int,
                          salt: String): DataFrame = {
    require(maxComponent > 0 && maxDegree > 0,
      s"maxComponent/maxDegree must be positive, got $maxComponent/$maxDegree")
    require(org.apache.spark.sql.graftbridge.ColumnBridge
        .isIntegral(nodes.schema(idCol).dataType),
      s"contextOrder: $idCol must be an integral id column " +
        s"(got ${nodes.schema(idCol).dataType.simpleString}) — the " +
        "ConnectedComponents min-label contract")
    val spark = nodes.sparkSession
    import spark.implicits._
    // id-domain guard, at ENTRY and on both frames: a negative id
    // would reach the walked path's loud require via its component
    // min-label, but an over-maxComponent component BYPASSES the walk
    // task and format_string("%019d") zero-pads negative longs into
    // keys whose string order reverses among negatives — a silent
    // wrong order. The raise_error rides the existing scans (the
    // packSequencesBy pattern), no extra job. Edges are guarded too:
    // an edge endpoint absent from `nodes` can still become a
    // component's min-label and poison comp_key/comp.
    def nonNeg(c: Column, what: String): Column =
      when(c.isNull || c >= 0, c)
        .otherwise(raise_error(concat(
          lit(s"contextOrder: negative $what breaks the zero-padded " +
            "global order key — ids must be non-negative: "),
          c.cast("string"))))
    val ids = nodes.select(nonNeg(col(idCol).cast("long"), idCol).as("id"))
      .filter(col("id").isNotNull).distinct()
    // a NaN weight means "no defined similarity" — keeping it would
    // poison the adjacency sort and the step comparisons (NaN
    // compares are order-dependent in plain scala sorts)
    val e = edges.select(nonNeg(col(aCol).cast("long"), aCol).as("a"),
        nonNeg(col(bCol).cast("long"), bCol).as("b"),
        col(wCol).cast("double").as("w"))
      .filter(col("a").isNotNull && col("b").isNotNull &&
        col("a") =!= col("b") && col("w").isNotNull && !isnan(col("w")))
    val cc = ConnectedComponents.run(e, "a", "b")
    val withComp = ids
      .join(cc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("component"), col("id")).as("comp"),
        Sampling.hash40(Seq(col("id")), salt).as("h"))
      // reused by the size census, the walk stream, AND the edge
      // tagging — materialize once (3 scalars per node)
      .localCheckpoint(true)
    // component size census FIRST, distributed: an over-cap component
    // must never reach a single walk task at all — buffering a
    // giant component's adjacency before deciding to fall back would
    // be the OOM the cap exists to prevent. comp_key = the (h, id)-
    // minimum member's hash, the component's layout position.
    val stats = withComp.groupBy(col("comp"))
      .agg(count(lit(1)).as("__n"),
        min(struct(col("h"), col("id"))).as("__mk"))
      .select(col("comp"), col("__n"),
        col("__mk").getField("h").as("comp_key"))
    val tagged = withComp.join(stats, Seq("comp"))
    // one tagged stream per WALKABLE component: node rows carry
    // (id, hash), edge rows carry (a, b, w) keyed by a's component
    // (both endpoints share it by construction); over-cap components
    // contribute NO rows here
    val nodeRows = tagged.filter(col("__n") <= maxComponent)
      .select(col("comp"), lit(0).as("kind"),
        col("id").as("x"), col("h").as("y"), lit(0.0).as("w"))
    val edgeRows = e
      .join(tagged.select(col("id").as("a"), col("comp"), col("__n")),
        Seq("a"))
      .filter(col("__n") <= maxComponent)
      .select(col("comp"), lit(1).as("kind"), col("a").as("x"),
        col("b").as("y"), col("w"))
    val mc = maxComponent
    val md = maxDegree
    // the third key field: walk position for walked components, the
    // member hash for over-cap ones — (hash, id) IS the documented
    // fallback order, assigned fully distributed
    val walked = nodeRows.union(edgeRows)
      .as[(Long, Int, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (comp, it) =>
        walkComponent(comp, it, mc, md)
      }
      .toDF("id", "comp", "comp_key", "third", "walked")
      .union(tagged.filter(col("__n") > maxComponent)
        .select(col("id"), col("comp"), col("comp_key"),
          col("h").as("third"), lit(false).as("walked")))
      // materialize ONCE: the layout feeds both the prefix sum and
      // the final join — without this the CC + walk pipeline
      // executes twice; the frame is 5 scalars per node (the
      // packShards materialization class)
      .localCheckpoint(true)
    walked
  }

  /**
   * [[contextOrder]] fused with [[Packing.packSequencesBy]] — the
   * qBW/qBZ shape: the layout ordinal (a unit-weight prefix sum) and
   * the token prefix sum run over the SAME (comp_key, comp, third,
   * id) order, so composing contextOrder → packSequencesBy paid a
   * second full range shuffle + persist + driver round-trip +
   * checkpoint to re-derive an order the first pass already had in
   * hand (§2). One [[Packing.prefixByKey2]] pass computes both
   * cumulative sums; rows are exactly the composition's (pinned in
   * Round20OptSpec).
   *
   * `docs` must cover every node id (the [[inContextLayout]]
   * contract — ids match): a walked id with no doc row fails the query
   * (raise_error on the existing join) instead of silently dropping out
   * of the ordinal.
   *
   * @return (id, component, ord, walked, seq_id, tok_start, tok_end)
   *         — one row per (doc, sequence) overlap, zero-weight docs
   *         dropped (the packSequences contract).
   */
  def orderAndPackSequences(nodes: DataFrame, idCol: String, edges: DataFrame,
                            aCol: String, bCol: String, wCol: String,
                            docs: DataFrame, weightCol: String, seqLen: Long,
                            maxComponent: Int = 1 << 16, maxDegree: Int = 64,
                            salt: String = "s0",
                            partitions: Int = 32): DataFrame = {
    val walked = walkedFrame(nodes, idCol, edges, aCol, bCol, wCol,
      maxComponent, maxDegree, salt)
    val withW = walked.join(
        docs.select(col(idCol).cast("long").as("id"),
          col(weightCol).cast("long").as("__w"), lit(true).as("__doc")),
        Seq("id"), "left")
      .withColumn("__w", when(col("__doc"), col("__w")).otherwise(raise_error(concat(
        lit("orderAndPackSequences: docs has no row for node id "),
        col("id").cast("string")))))
      .drop("__doc")
    val pre = Packing.prefixByKey2(withW.withColumn("__one", lit(1L)),
      Seq(col("comp_key"), col("comp"), col("third"), col("id")),
      "id", "__one", "__w", partitions)
    val cut = Packing.cutSequences(
      pre.select(col("id"), col("__w"),
        col("cum_before_2").as("cum_before")),
      "id", "__w", seqLen)
    walked.select(col("id"), col("comp").as("component"), col("walked"))
      .join(pre.select(col("id"), col("cum_before_1").as("ord")), Seq("id"))
      .join(cut, Seq("id"))
      .select(col("id"), col("component"), col("ord"), col("walked"),
        col("seq_id"), col("tok_start"), col("tok_end"))
  }

  /** The per-component greedy walk — driver-free, component-bounded
    * (over-cap components are routed around this function entirely by
    * the size census). Emits (id, comp, compKey, pos, walked). */
  private def walkComponent(comp: Long,
                            it: Iterator[(Long, Int, Long, Long, Double)],
                            maxComponent: Int, maxDegree: Int)
      : Iterator[(Long, Long, Long, Long, Boolean)] = {
    require(comp >= 0,
      s"contextOrder: negative component id $comp breaks the " +
        "zero-padded global order key — ids must be non-negative")
    val hs = scala.collection.mutable.LongMap.empty[Long]
    val adj = scala.collection.mutable.LongMap
      .empty[scala.collection.mutable.ArrayBuffer[(Long, Double)]]
    it.foreach {
      case (_, 0, id, h, _) => hs(id) = h
      case (_, _, a, b, w) =>
        adj.getOrElseUpdate(a,
          scala.collection.mutable.ArrayBuffer.empty) += ((b, w))
        adj.getOrElseUpdate(b,
          scala.collection.mutable.ArrayBuffer.empty) += ((a, w))
    }
    val n = hs.size
    if (n == 0) return Iterator.empty
    // neighbor precedence: max weight, then min hash, then min id;
    // cap each adjacency at maxDegree under the same precedence.
    // Collapse each neighbor to its MAX weight FIRST: raw contextOrder
    // input isn't forced through inContextLayout's symmetrize/max
    // groupBy, and a neighbor arriving with several distinct weights
    // would otherwise consume several of the maxDegree slots and
    // evict genuinely distinct neighbors ("top maxDegree neighbors by
    // weight" counts neighbors, not multi-edges)
    def prec(m: (Long, Double)): (Double, Long, Long) =
      (-m._2, hs.getOrElse(m._1, Long.MaxValue), m._1)
    adj.keysIterator.toArray.foreach { k =>
      adj(k) = adj(k).groupBy(_._1).iterator
        .map { case (m, ws) => (m, ws.iterator.map(_._2).max) }
        .to(scala.collection.mutable.ArrayBuffer)
        .sortBy(prec).take(maxDegree)
    }
    // the size census routes over-cap components around the walk —
    // seeing one here means the routing broke, not the input
    require(n <= maxComponent,
      s"contextOrder: component $comp of size $n reached the walk task " +
        s"past the $maxComponent census cut — routing invariant broken")
    // (hash, id)-sorted members: the jump pool and the component
    // layout key (head's hash)
    val byHash = hs.toArray.sortBy { case (id, h) => (h, id) }.map(_._1)
    val compKey = hs(byHash.head)
    val visited = new java.util.HashSet[java.lang.Long](n * 2)
    val path = new scala.collection.mutable.ArrayBuffer[Long](n)
    // start: max degree, then min hash, then min id
    val start = hs.keysIterator.toArray
      .sortBy(id => (-adj.get(id).map(_.size).getOrElse(0),
        hs(id), id)).head
    var current = start
    visited.add(current); path += current
    var jump = 0
    while (path.size < n) {
      var best = -1L
      var bw = Double.NegativeInfinity
      var bh = Long.MaxValue
      adj.get(current).foreach(_.foreach { case (m, w) =>
        if (!visited.contains(m) && hs.contains(m)) {
          val h = hs(m)
          if (w > bw || (w == bw && (h < bh || (h == bh && m < best)))) {
            best = m; bw = w; bh = h
          }
        }
      })
      if (best == -1L) {
        while (visited.contains(byHash(jump))) jump += 1
        best = byHash(jump)
      }
      visited.add(best); path += best; current = best
    }
    path.iterator.zipWithIndex.map { case (id, i) =>
      (id, comp, compKey, i.toLong, true)
    }
  }

  /**
   * The one-call composition: kNN graph over the embeddings
   * ([[Similarity.knnJoin]] — banded IVF candidates, never all
   * pairs), symmetrized max-weight edges, [[contextOrder]]'s greedy
   * walk, then [[Packing.packSequencesBy]] along the walk ordinal.
   * `docs` supplies the token weights; ids must match `emb`'s.
   * @return (id, component, ord, walked, seq_id, tok_start, tok_end)
   *         — one row per (doc, sequence) overlap, zero-weight docs
   *         dropped (the packSequences contract).
   */
  def inContextLayout(docs: DataFrame, idCol: String, weightCol: String,
                      emb: DataFrame, vecCol: String, seqLen: Long,
                      k: Int = 8, nlist: Int = 16, probeCells: Int = 4,
                      maxComponent: Int = 1 << 16,
                      salt: String = "s0"): DataFrame = {
    val nn = Similarity.knnJoin(emb, idCol, vecCol, k, nlist, probeCells)
    val und = nn
      .select(least(col("id"), col("nn_id")).as("a"),
        greatest(col("id"), col("nn_id")).as("b"), col("cos_sim").as("w"))
      .groupBy("a", "b").agg(max("w").as("w"))
    // ONE fused prefix pass for ordinal + token cumsum (see
    // orderAndPackSequences — the contextOrder → packSequencesBy
    // composition paid a second range shuffle for the same order)
    orderAndPackSequences(docs.select(col(idCol)), idCol, und,
      "a", "b", "w", docs, weightCol, seqLen, maxComponent, salt = salt)
  }
}
