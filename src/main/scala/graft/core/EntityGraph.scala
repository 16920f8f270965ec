package graft.core

import graft.model.{EntityDataset, Namespaces}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The entity graph: a registry of datasets plus the traversal planner.
  *
  * Re-expresses the reference's query API (mimiro-io/datahub
  * DOCUMENTATION.md "Query"; internal/server/store.go:870
  * `GetManyRelatedEntities`, store.go:1079 `GetRelatedAtTime` paging;
  * internal/server/get_related_test.go):
  * single-entity lookup, outgoing traversal, inverse (incoming)
  * traversal, predicate `*`, and dataset scoping.
  *
  * Every traversal is a declarative join so Catalyst gets to reorder,
  * push filters into the scans and pick broadcast-hash for
  * dimension-sized sides — nothing is materialized driver-side, which is
  * what keeps these operators valid on a 1000-executor / 100 TB cluster.
  *
  * The one piece of state: the BFS operators (`reachable`,
  * `reachableFrom`) share an adjacency pinned per graph value
  * ([[allEdges]] persisted with its lineage, `PinBridge`). It is
  * planned on the first BFS call that runs a hop (a 0-hop call builds
  * nothing), and the first job that runs a hop stores its rows as read
  * from the datasets at that moment; later hops and calls read the
  * stored rows. It is a cache, not a checkpoint, and so ignores
  * `graft.checkpointDir`: a partition whose blocks are lost (executor
  * loss, eviction, or housekeeping that unpersists every RDD) is re-read
  * from the datasets on its next use, so losing blocks costs a re-scan,
  * never a failed call (a lineage-cut pin that outlives one call would
  * fail every later call instead). It is freed along with the graph value (the
  * ContextCleaner drops the blocks when the driver GCs it). Data that
  * changes under a live graph value: the other operators (`out`, `in`,
  * `lookup`, ...) re-read the datasets on every action while the BFS
  * operators keep the rows of the first call, except for partitions
  * they had to re-read — so the two can disagree. Build a new
  * `EntityGraph` value after the data changes.
  */
final case class EntityGraph(datasets: Map[String, EntityDataset], ns: Namespaces) {

  def apply(name: String): EntityDataset =
    datasets.getOrElse(name, sys.error(s"unknown dataset: $name"))

  /** Reference: FindById / `{"entityId": ...}` — single-entity lookup.
    * The predicate on the natural key pushes down to the parquet scan.
    */
  def lookup(dataset: String, key: Any): DataFrame = {
    val d = apply(dataset)
    d.df.filter(col(d.idCol) === lit(key))
  }

  /** (entity key, single ref value) pairs for one declared ref of `df`.
    * Array-valued refs (reference: `refs: URI | [URI]`,
    * internal/server/entity.go) explode to one row per element —
    * map-side, BEFORE any join shuffle, so the downstream equi-join sees
    * plain scalar keys either way; scalar refs pass through untouched
    * (no Generate node in the plan). */
  private def refPairs(df: DataFrame, idCol: String, r: graft.model.Ref,
                       idAs: String, fkAs: String): DataFrame =
    if (r.array) df.select(col(idCol).as(idAs), explode(col(r.fkCol)).as(fkAs))
    else df.select(col(idCol).as(idAs), col(r.fkCol).as(fkAs))

  /** Outgoing traversal: from entities of `dataset` (optionally filtered)
    * via `predicate` to related entities, carrying the target's columns.
    */
  def out(dataset: String, predicate: String, startFilter: Column = lit(true)): DataFrame = {
    val src = apply(dataset)
    val r = src.refs.find(_.predicate == predicate)
      .getOrElse(sys.error(s"dataset ${src.name} has no predicate $predicate"))
    val tgt = apply(r.target)
    val pairs = refPairs(src.df.filter(startFilter), src.idCol, r, "__sid", "__fk")
    pairs
      .join(tgt.rel, pairs("__fk") === tgt.df(tgt.idCol))
      .select(Seq(
        src.uriOf(col("__sid")).as("start"),
        lit(predicate).as("predicate"),
        tgt.uri.as("related")) ++ tgt.df.columns.map(tgt.df(_)): _*
      )
  }

  /** Incoming (inverse) traversal: entities in `scope` datasets whose
    * `predicate` ref points AT entities of `target` (optionally
    * filtered). Reference: `{"inverse": true, "datasets": [...]}` — the
    * `scope` list doubles as the dataset filter; an empty scope means
    * "all datasets that declare the predicate".
    */
  def in(
      target: String,
      predicate: String,
      targetFilter: Column = lit(true),
      scope: Seq[String] = Seq.empty
  ): DataFrame = {
    val tgt = apply(target)
    val sources = datasets.values.toSeq
      .filter(d => d.refs.exists(r => r.predicate == predicate && r.target == target))
      .filter(d => scope.isEmpty || scope.contains(d.name))
      .sortBy(_.name)
    require(sources.nonEmpty, s"no dataset references $target via $predicate in scope $scope")
    val start = tgt.rel.filter(targetFilter)
    val legs = sources.map { src =>
      val ref = src.refs.find(r => r.predicate == predicate && r.target == target).get
      val pairs = refPairs(src.df, src.idCol, ref, "__sid", "__fk")
      pairs
        .join(start, pairs("__fk") === start(tgt.idCol))
        .select(
          tgt.uriOf(start(tgt.idCol)).as("start"),
          lit(predicate).as("predicate"),
          lit(src.name).as("dataset"),
          src.uriOf(col("__sid")).as("related"),
          col("__sid").cast("long").as("related_key")
        )
    }
    legs.reduce(_ unionByName _)
  }

  /** Predicate `*`: follow ALL outgoing refs of a dataset — a union of
    * one join per declared predicate (reference: `"predicate": "*"`).
    */
  def outStar(dataset: String, startFilter: Column = lit(true)): DataFrame = {
    val src = apply(dataset)
    require(src.refs.nonEmpty, s"dataset $dataset declares no refs")
    val legs = src.refs.sortBy(_.predicate).map { r =>
      val tgt = apply(r.target)
      val pairs = refPairs(src.df.filter(startFilter), src.idCol, r, "__sid", "__fk")
      pairs
        .join(tgt.rel, pairs("__fk") === tgt.df(tgt.idCol))
        .select(
          src.uriOf(col("__sid")).as("start"),
          lit(r.predicate).as("predicate"),
          tgt.uri.as("related")
        )
    }
    legs.reduce(_ unionByName _)
  }

  /** Two-hop outgoing traversal, composed joins (reference transform
    * idiom: Query(...) then Query(...) on the result — see
    * DOCUMENTATION.md MultiSource example).
    */
  def out2(dataset: String, p1: String, p2: String, startFilter: Column = lit(true)): DataFrame = {
    val src = apply(dataset)
    val r1 = src.refs.find(_.predicate == p1).getOrElse(sys.error(s"no $p1 on $dataset"))
    val mid = apply(r1.target)
    val r2 = mid.refs.find(_.predicate == p2).getOrElse(sys.error(s"no $p2 on ${mid.name}"))
    val tgt = apply(r2.target)
    val hop1 = refPairs(src.df.filter(startFilter), src.idCol, r1, "__sid", "__fk1")
    val hop2raw = refPairs(mid.df, mid.idCol, r2, "__mid", "__fk2")
    val hop2 = if (mid.small) broadcast(hop2raw) else hop2raw
    hop1
      .join(hop2, hop1("__fk1") === hop2("__mid"))
      .join(tgt.rel, hop2("__fk2") === tgt.df(tgt.idCol))
      .select(Seq(
        src.uriOf(col("__sid")).as("start"),
        tgt.uri.as("related")) ++ tgt.df.columns.map(tgt.df(_)): _*
      )
  }

  /** Paged outgoing traversal with a continuation token (reference:
    * Query `limit` + `continuations` — every query result can be resumed
    * from an opaque token). The token is keyset-based: "start strictly
    * after entity key K", so resuming is a pushed-down range predicate +
    * top-N — Spark plans TakeOrderedAndProject (per-partition top-N,
    * merged on the driver), NOT a global sort, and the `> K` predicate
    * prunes parquet row groups. O(page) per page at any corpus size.
    *
    * Keyset contract (also `inPaged`): entity keys must be NUMERIC —
    * under ANSI mode a string key (e.g. lineitem's composite
    * "orderkey-linenumber") fails the cast loudly at execution; give
    * such datasets a numeric surrogate column for paged traversal.
    */
  def outPaged(
      dataset: String,
      predicate: String,
      afterKey: Option[Long],
      pageSize: Int
  ): DataFrame = {
    val src = apply(dataset)
    val r = src.refs.find(_.predicate == predicate)
      .getOrElse(sys.error(s"dataset ${src.name} has no predicate $predicate"))
    val tgt = apply(r.target)
    val keyFilter = afterKey.map(k => col(src.idCol) > k).getOrElse(lit(true))
    // page the START set first (pushed range predicate + per-partition
    // top-N), then traverse only the page — never the whole corpus
    val page = src.df.filter(keyFilter).orderBy(col(src.idCol)).limit(pageSize)
    val pairs = refPairs(page, src.idCol, r, "__sid", "__fk")
    pairs
      .join(tgt.rel, pairs("__fk") === tgt.df(tgt.idCol))
      .select(
        col("__sid").cast("long").as("start_key"),
        src.uriOf(col("__sid")).as("start"),
        lit(predicate).as("predicate"),
        tgt.uri.as("related"))
  }

  /** Paged INCOMING traversal with a keyset continuation — the
    * reference pages both directions through the same continuation
    * scheme (store.go:1079 `GetRelatedAtTime` + `RelatedFrom`); round 2
    * only paged outgoing. The token is the (dataset, related_key) pair
    * of the last row served: resuming filters strictly past it (struct
    * comparison pushes to the scan) and takes the next page via
    * per-partition top-N (TakeOrderedAndProject — no global sort). */
  def inPaged(
      target: String,
      predicate: String,
      targetFilter: Column = lit(true),
      scope: Seq[String] = Seq.empty,
      after: Option[(String, Long)] = None,
      pageSize: Int = 100
  ): DataFrame = {
    val full = in(target, predicate, targetFilter, scope)
    val keyF = after
      .map { case (ds, k) => struct(col("dataset"), col("related_key")) > struct(lit(ds), lit(k)) }
      .getOrElse(lit(true))
    full.filter(keyF).orderBy(col("dataset"), col("related_key")).limit(pageSize)
  }

  /** The full entity-to-entity edge list: one (src, dst) URI pair per
    * declared ref of every dataset, unpinned (every action re-reads the
    * datasets). The BFS operators run over its pinned copy,
    * [[adjacency]]. */
  def allEdges: DataFrame =
    datasets.values.toSeq.sortBy(_.name).flatMap { d =>
      d.refs.sortBy(_.predicate).map { r =>
        val tgt = apply(r.target)
        refPairs(d.df, d.idCol, r, "__sid", "__fk")
          // a null FK concat()s to a null dst URI, and null keys never
          // anti-join away — without this filter `reachable` would
          // re-emit a spurious null node at every hop
          .filter(col("__fk").isNotNull)
          .select(d.uriOf(col("__sid")).as("src"), tgt.uriOf(col("__fk")).as("dst"))
      }
    }.reduce(_ unionByName _)

  /** The adjacency every BFS hop joins against: [[allEdges]] pinned
    * once per graph value (life cycle in the class doc). Without the pin
    * every hop of every call re-plans and re-scans the union of one scan
    * per declared ref. */
  private lazy val adjacency: DataFrame =
    org.apache.spark.sql.graft.PinBridge.persisted(allEdges, StorageLevel.MEMORY_AND_DISK)

  /** Variable-depth reachability: all entities within `maxHops` of the
    * start set following ANY outgoing ref, with their minimum depth —
    * the unbounded-traversal companion to the fixed-predicate queries.
    * Frontier expansion: each hop is one equi-join of the frontier with
    * the pinned [[adjacency]] + anti-join against the visited set, only
    * NEW nodes join the next frontier — so the work per hop is
    * O(frontier edges), not O(total reached), and the driver never sees
    * row data. Every frontier a later hop reads is lineage-truncated
    * (Checkpoints.truncate) or a driver-side literal. Output (uri,
    * depth): null FKs are no edges, a dangling ref's target is reached
    * like any other node, start rows pass through at depth 0 as given,
    * and every other node appears once, at its minimum depth. */
  def reachable(startUris: DataFrame, maxHops: Int): DataFrame =
    bfs(startUris.select(col("uri"), lit(0).as("depth")), Seq.empty, maxHops)

  /** Per-ROOT variable-depth reachability — the traversal-aggregation
    * primitive behind the reference's "javascript query" pattern
    * (aggregate over everything reachable from each start entity):
    * multi-source BFS where every frontier row carries its ORIGIN, so
    * one pass answers "per start node, what is within k hops" for the
    * whole start set. Output (root, uri, depth), a multiset: every
    * start row passes through as (uri, uri, 0) as given — a start URI
    * listed twice yields two such rows — and every other node reached
    * from a root appears once per distinct root, at its minimum depth
    * from that root.
    *
    * Scale shape: identical to `reachable` (same pinned adjacency, same
    * pinning of frontiers) — except keys are (root, uri) pairs, so
    * work per hop is O(Σ per-root frontier edges) and the shuffle key
    * cardinality GROWS with the start set (no hot single key). The
    * driver never sees row data. */
  def reachableFrom(startUris: DataFrame, maxHops: Int): DataFrame =
    bfs(startUris.select(col("uri").as("root"), col("uri"), lit(0).as("depth")), Seq("root"), maxHops)

  /** The frontier-expansion loop both BFS operators share: `start` holds
    * the depth-0 rows, `carry` the columns that ride along with every
    * node (`root` for the per-root BFS), and a node is new when its
    * (carry, uri) key is not yet reached.
    *
    * Only frontiers a later hop reads are pinned: the start set when a
    * hop runs, unless its plan is already a driver-side literal
    * (explicit start URIs, `Seq(...).toDF`: its rows already sit in
    * driver memory and ride along with each hop's plan, where a pin
    * would cost one job per call), and every hop's new nodes but the
    * last's, which only the caller reads. The visited set stays a union
    * of pinned frontiers, so its lineage is one union node per hop —
    * pinning it again would double the materialization work per hop for
    * no lineage benefit. */
  private def bfs(start: DataFrame, carry: Seq[String], maxHops: Int): DataFrame = {
    val key = carry :+ "uri"
    var frontier = start.queryExecution.optimizedPlan match {
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => start
      case _ if maxHops > 0 => Checkpoints.truncate(start)
      case _ => start
    }
    var reached = frontier
    for (k <- 1 to maxHops) {
      val edges = adjacency
      val hop = edges.join(frontier, edges("src") === frontier("uri"))
        .select(carry.map(col) :+ col("dst").as("uri") :+ lit(k).as("depth"): _*)
        .distinct()
        .join(reached.select(key.map(col): _*), key, "left_anti")
      val next = if (k < maxHops) Checkpoints.truncate(hop) else hop
      reached = reached.unionByName(next)
      frontier = next
    }
    reached
  }

  /** Reference: `details: true` lookup — entity augmented with per-value
    * provenance. Emits one row per (entity, property) with the owning
    * dataset, value rendered as string.
    */
  def detailsLookup(dataset: String, key: Any, props: Seq[String] = Seq.empty): DataFrame = {
    val d = apply(dataset)
    val base = d.df.filter(col(d.idCol) === lit(key))
    val chosen = if (props.nonEmpty) props else d.propCols
    val legs = chosen.sorted.map { p =>
      base.select(
        d.uri.as("id"),
        lit(d.propNs + p).as("property"),
        col(p).cast("string").as("value"),
        lit(d.name).as("dataset")
      )
    }
    legs.reduce(_ unionByName _)
  }
}
