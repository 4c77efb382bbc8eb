"""Connected-components clustering of near-duplicate pairs (SURVEY §2C).

Pairwise near-dup detection (dedup_ngram_jaccard / dedup_minhash_lsh) is
only half of corpus dedup: pairs must be closed into clusters so each
cluster keeps one canonical document. A near-dup of a near-dup is usually
a near-dup — the transitive closure IS the dup group. This is the step a
pretraining pipeline runs between "find pairs" and "drop all but one".

Algorithm: iterative min-label propagation on the undirected pair graph —
every vertex starts labeled with its own doc_id; each round, every vertex
takes the min of its own label and its neighbors' labels; converges in
<= graph-diameter rounds (near-dup components are shallow — a handful of
rounds in practice). Each round is ONE shuffle (edges ⋈ labels, then a
groupBy-min); labels are persisted round-over-round and the loop exits on
a zero-changed count, so total cost is O(E * diameter) shuffle volume —
the same data layout GraphX/Pregel would use, expressed as DataFrames so
AQE still handles skewed hub vertices.

Skew story for hub components at 100 TB: near-dup graphs are Zipfian —
boilerplate/template families form hub vertices whose edge lists dominate
a partition. Three mitigations compose here: (1) the per-round edges⋈labels
join is an equi-join on src, so AQE's skew-join splitting shards a hub's
edge list across tasks; (2) min-label propagation's combiner (groupBy-min)
partial-aggregates map-side, so a hub's updates collapse to one row per
map task before shuffling; (3) diameter — not hub degree — bounds the
round count, and template families are shallow (a star around the
template has diameter 2). The known worst case is a long chain (diameter
O(n)); `max_rounds` caps that pathology, and the large-star/small-star
algorithm (Kiveris et al.) is the drop-in upgrade if real corpora ever
exhibit it — same edges/labels layout, different update rule.

The result is fully deterministic (min doc_id reachable), so unlike most
iterative algorithms this one has an exact SQL oracle: a DuckDB recursive
CTE computing min-label reachability over the same edge set.

Reference parity: the reference dedups per-client with a window
(views/website/entry07_platform_decile_1.sql) because its dup keys are
exact; component-closure is that same "keep one representative" contract
lifted to transitive near-dup keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from .cachereg import release_pins, swap_pin
from .dedup import JACCARD_TAU, jaccard_pairs_ctes_sql, verified_pairs_pinned

MAX_ROUNDS = 25


def _min_label_closure(
    name: str, docs: DataFrame, pairs: DataFrame, max_rounds: int
) -> DataFrame:
    """Min-label propagation over the undirected ``pairs`` (doc_a, doc_b)
    graph: returns (doc_id, comp) for every doc in ``docs``, comp = the
    min doc_id reachable (capped at ``max_rounds`` rounds).

    The edge and seed-label frames pin under ``<name>.edges`` /
    ``<name>.labels`` (swap_pin: exception-safe release on the next
    invocation + fleet-wide release_pins() at bench/sweep exit) and are
    released here through release_pins once the loop no longer reads them.
    """
    edges = swap_pin(
        f"{name}.edges",
        pairs.union(pairs.select(F.col("doc_b"), F.col("doc_a"))).toDF("src", "dst"),
    )
    labels = swap_pin(
        f"{name}.labels", docs.select("doc_id", F.col("doc_id").alias("comp"))
    )
    for _ in range(max_rounds):
        prop = edges.join(labels, edges.src == labels.doc_id).select(
            F.col("dst").alias("doc_id"), "comp"
        )
        # checkpoint (not just persist) each round: truncates the lineage so
        # the plan stays O(1) per round instead of unrolling every prior
        # round — without it, analysis cost and failure-recompute depth grow
        # quadratically with the round count
        new_labels = (
            labels.union(prop)
            .groupBy("doc_id")
            .agg(F.min("comp").alias("comp"))
            .localCheckpoint(eager=False)
        )
        changed = (
            labels.withColumnRenamed("comp", "old")
            .join(new_labels, "doc_id")
            .filter(F.col("old") != F.col("comp"))
            .limit(1)
            .count()
        )
        release_pins(f"{name}.labels")  # only the seed labels are pinned
        labels = new_labels
        if changed == 0:
            break
    release_pins(f"{name}.edges")
    return labels


def _closure_ctes_sql(pairs_cte: str, label: str) -> str:
    """Oracle twin of _min_label_closure: CTEs ``edges``, ``reach`` and
    ``lab(doc_id, <label>)`` over the (doc_a, doc_b) CTE ``pairs_cte``
    (splice after ``WITH RECURSIVE``)."""
    return f"""
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM {pairs_cte}
          UNION ALL
          SELECT doc_b, doc_a FROM {pairs_cte}
        ),
        reach(id, comp) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT r.id, e.dst FROM reach r JOIN edges e ON r.comp = e.src
        ),
        lab AS (
          SELECT id AS doc_id, MIN(comp) AS {label} FROM reach GROUP BY id
        )"""


def dup_components(
    spark: SparkSession, sf_dir: str, tau: float = JACCARD_TAU, max_rounds: int = MAX_ROUNDS
) -> DataFrame:
    """Near-dup components over word-3-gram Jaccard pairs at `tau`.

    Output: one row per document — its component id (min doc_id reachable
    through near-dup pairs), the component's member count, and whether
    this doc is the canonical representative (the min itself). Singleton
    docs are their own component of size 1.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    # the session-pinned verified pair table (VERDICT r9 item 1): the
    # expensive ngram-Jaccard verify materializes ONCE per session and
    # all four dup-graph consumers read the same cached frame
    pairs = verified_pairs_pinned(spark, sf_dir, tau)
    labels = _min_label_closure("dup_components", docs, pairs, max_rounds)
    w = Window.partitionBy("component_id")
    return (
        labels.select("doc_id", F.col("comp").alias("component_id"))
        .withColumn("n_members", F.count(F.lit(1)).over(w))
        .withColumn(
            "is_canonical", (F.col("doc_id") == F.col("component_id")).cast("int")
        )
    )


def dup_components_oracle(tau: float = JACCARD_TAU) -> str:
    return f"""
        WITH RECURSIVE {jaccard_pairs_ctes_sql(tau)},
        {_closure_ctes_sql("jpairs", "component_id")}
        SELECT doc_id, component_id,
               COUNT(*) OVER (PARTITION BY component_id) AS n_members,
               CAST(doc_id = component_id AS INT) AS is_canonical
        FROM lab
        ORDER BY doc_id
    """


def dup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size profile of the near-dup component graph: for each
    component size, how many components and how many documents — the
    dedup-impact report (docs removed if each cluster keeps one canonical
    = n_docs - n_clusters summed over sizes > 1) that decides whether a
    corpus needs dedup at all before the expensive drop pass runs.

    Composes dup_components (same iterative min-label propagation, same
    determinism argument) with two metadata-sized aggregations — the
    per-size table is at most |distinct sizes| rows.
    """
    comp = dup_components(spark, sf_dir)
    sizes = comp.groupBy("component_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
            F.sum("cluster_size").cast("bigint").alias("n_docs"),
        )
        .select(F.col("cluster_size").cast("bigint"), "n_clusters", "n_docs")
    )


def dup_cluster_stats_oracle(tau: float = JACCARD_TAU) -> str:
    return f"""
        WITH RECURSIVE {jaccard_pairs_ctes_sql(tau)},
        {_closure_ctes_sql("jpairs", "component_id")},
        sizes AS (
          SELECT component_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
          FROM lab GROUP BY component_id
        )
        SELECT cluster_size,
               CAST(COUNT(*) AS BIGINT) AS n_clusters,
               CAST(SUM(cluster_size) AS BIGINT) AS n_docs
        FROM sizes GROUP BY cluster_size ORDER BY cluster_size
    """


PR_ROUNDS = 3
PR_SCALE = 1_000_000  # ranks carried as integer ppm of the initial mass


def dup_pagerank(
    spark: SparkSession, sf_dir: str, tau: float = JACCARD_TAU, rounds: int = PR_ROUNDS
) -> DataFrame:
    """PageRank centrality over the near-duplicate pair graph: which
    documents sit at the center of duplication families (template/
    boilerplate hubs) vs at the rim. Complements `dup_components` (which
    docs cluster) and `dup_cluster_stats` (how big) with WHICH doc anchors
    each family — the doc a canonical-pick step should prefer, and the one
    whose removal breaks the most near-dup pairs.

    Fixed-round power iteration (damping 0.85) in pure integer arithmetic:
    ranks are bigint ppm, each neighbor share is an integer floor-division
    `rank div degree`, and the damping step is `(85 * sum) div 100` — so
    iteration order cannot perturb the result and the oracle unrolls the
    SAME recurrence as CTEs, bit-for-bit. Nodes are pair members (degree
    >= 1 by construction — the symmetric edge set has no dangling mass).

    Scale: each round is one equi-join (edges x ranks on src, AQE splits
    hub vertices) + one partial-aggregated groupBy(dst) — O(E) shuffle
    volume per round, same layout as dup_components' label propagation;
    per-round localCheckpoint truncates lineage.
    """
    # Pins route through the cachereg registry (VERDICT r7 nit): the
    # inline unpersist below already releases them on the normal path,
    # but swap_pin makes an exception-interrupted invocation release on
    # the NEXT call instead of leaking, and release_pins() sweeps them
    # with the rest of the fleet at bench/sweep exit.
    # shared session-pinned pair materialization (VERDICT r9 item 1)
    pairs = verified_pairs_pinned(spark, sf_dir, tau)
    edges = swap_pin(
        "dup_pagerank.edges",
        pairs.union(pairs.select(F.col("doc_b"), F.col("doc_a"))).toDF("src", "dst"),
    )
    nodes = swap_pin(
        "dup_pagerank.nodes",
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .select(F.col("src").alias("doc_id"), "deg"),
    )
    base = PR_SCALE * 15 // 100
    ranks = nodes.withColumn("rank", F.lit(PR_SCALE).cast("bigint"))
    for _ in range(rounds):
        contrib = edges.join(
            ranks.select(
                F.col("doc_id").alias("src"),
                F.expr("rank div deg").alias("share"),
            ),
            "src",
        ).select("dst", "share")
        summed = contrib.groupBy("dst").agg(F.sum("share").alias("s"))
        ranks = (
            nodes.join(summed, nodes.doc_id == summed.dst)
            .select(
                "doc_id",
                "deg",
                (F.lit(base) + F.expr("(85 * s) div 100")).cast("bigint").alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    out = ranks.select(
        "doc_id",
        F.col("deg").cast("bigint").alias("degree"),
        F.col("rank").alias("rank_scaled"),
    ).orderBy("doc_id")
    release_pins("dup_pagerank.edges", "dup_pagerank.nodes")
    return out


def dup_pagerank_oracle(tau: float = JACCARD_TAU, rounds: int = PR_ROUNDS) -> str:
    base = PR_SCALE * 15 // 100
    # MATERIALIZED (r14): DuckDB inlines plain CTEs, so the unrolled
    # round chain re-evaluated edges (and its jpairs subtree) once per
    # round — materializing pins each round to one evaluation. Output
    # identical (verified vs the plain form at sf0.001/sf0.01).
    step = """
        r{i} AS MATERIALIZED (
          SELECT d.doc_id, d.deg,
                 CAST({base} + (85 * SUM(r.rank // r.deg)) // 100 AS BIGINT) AS rank
          FROM deg d
          JOIN edges e ON e.dst = d.doc_id
          JOIN r{prev} r ON r.doc_id = e.src
          GROUP BY d.doc_id, d.deg
        )"""
    iters = ",".join(
        step.format(i=i + 1, prev=i, base=base) for i in range(rounds)
    )
    from .dedup import jaccard_pairs_ctes_sql

    return f"""
        WITH {jaccard_pairs_ctes_sql(tau)},
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM jpairs
          UNION ALL
          SELECT doc_b, doc_a FROM jpairs
        ),
        deg AS (
          SELECT src AS doc_id, COUNT(*) AS deg FROM edges GROUP BY src
        ),
        r0 AS (
          SELECT doc_id, deg, CAST({PR_SCALE} AS BIGINT) AS rank FROM deg
        ),
        {iters}
        SELECT doc_id, CAST(deg AS BIGINT) AS degree, rank AS rank_scaled
        FROM r{rounds}
        ORDER BY doc_id
    """


TEMPLATE_DF_CAP = 10
TEMPLATE_MIN_SHARED = 2


def template_communities(
    spark: SparkSession, sf_dir: str, max_rounds: int = MAX_ROUNDS
) -> DataFrame:
    """Template/boilerplate family detection: connected components over the
    "shares >= TEMPLATE_MIN_SHARED rare shingles" graph — a LOOSER edge
    than dup_components' Jaccard tau, catching docs stamped from the same
    template whose bodies diverged too far for whole-doc similarity. The
    curation action differs too: near-dups drop to one canonical, template
    families get their boilerplate stripped or the family downweighted.

    Edges: pairs sharing >= TEMPLATE_MIN_SHARED rare shingles (document
    frequency <= TEMPLATE_DF_CAP — the df cap is simultaneously the
    semantic filter and the hot-key bound, as in
    cross_lang_contamination), generated by ``dedup.rare_shared_pairs``
    (r11, VERDICT r10 item 2 — the largest remaining 100x spill source):
    the previous rare-postings SELF-JOIN + wide pair-count aggregate is
    now one groupBy(shingle) bucket aggregate with in-row <= C(cap, 2)
    pairing and the two-phase narrow-key multiplicity count, exactly the
    device that retired containment_dup's spill. Closure: the same
    _min_label_closure as dup_components, exact recursive-CTE oracle.
    """
    from .dedup import _shingled_docs, rare_shared_pairs

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    sh = _shingled_docs(spark, sf_dir).filter(F.size("shingles") > 0)
    posting = sh.select("doc_id", F.explode("shingles").alias("shingle"))
    pairs = rare_shared_pairs(
        posting, TEMPLATE_DF_CAP, TEMPLATE_MIN_SHARED, "template_communities"
    )
    labels = _min_label_closure("template_communities", docs, pairs, max_rounds)
    release_pins("template_communities.buckets")
    w = Window.partitionBy("family_id")
    return (
        labels.select("doc_id", F.col("comp").alias("family_id"))
        .withColumn("n_members", F.count(F.lit(1)).over(w).cast("bigint"))
        .orderBy("doc_id")
    )


def template_communities_oracle() -> str:
    from .dedup import SHINGLE_CTES_SQL

    return f"""
        WITH RECURSIVE {SHINGLE_CTES_SQL},
        posting AS (
          SELECT doc_id, unnest(shingles) AS shingle
          FROM sh WHERE len(shingles) > 0
        ),
        rare AS (
          SELECT shingle FROM posting GROUP BY shingle
          HAVING COUNT(*) <= {TEMPLATE_DF_CAP}
        ),
        p AS (SELECT posting.* FROM posting JOIN rare USING (shingle)),
        tpairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM p a JOIN p b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id
          HAVING COUNT(*) >= {TEMPLATE_MIN_SHARED}
        ),
        {_closure_ctes_sql("tpairs", "family_id")}
        SELECT doc_id, family_id,
               CAST(COUNT(*) OVER (PARTITION BY family_id) AS BIGINT) AS n_members
        FROM lab
        ORDER BY doc_id
    """


DEDUP_SPLIT_MOD = 10  # ~10% of COMPONENTS (not documents) land in eval
DEDUP_SPLIT_SALT = "cplit:"


def dedup_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware train/eval splitter (VERDICT r9 item 5): assign the
    whole near-dup COMPONENT — not the individual document — to a split,
    so no document's near-duplicate can land on the other side. Splitting
    uniformly at the document level leaks ~(dup_rate x eval_frac) of eval
    into training as paraphrase-level copies, which is exactly the
    contamination decontaminate_ngram_overlap / embedding_decontaminate
    then have to hunt down; component-level assignment makes the split
    leakage-free BY CONSTRUCTION against the same pair set those
    detectors verify.

    Assignment is the deterministic md5 mod on the COMPONENT id
    (engine-portable, stable under re-runs and ingest order); singleton
    docs are their own component, so the expected eval fraction is
    ~1/DEDUP_SPLIT_MOD of components. Composes dup_components (the
    session-pinned verified-pair closure — this entry rides the same
    materialization as the rest of the dup-graph family) with one
    broadcast-sized hash projection and the documents dim for source.

    Scale: dup_components is the whole cost (O(E x diameter) shuffles,
    see its docstring); the split itself adds one narrow equi-join on
    doc_id. At 100 TB the assignment column writes back through the
    partitioned sink and downstream samplers filter on it at scan speed.

    Ingest precondition: PK-unique doc_id scan — a CONFLICTING doc_id
    replay (same key, different text) perturbs the shingle pair set and
    with it component membership, so the two engines can assign the tied
    copies' component differently (r10 --wave9 battery). Front door: the
    exactly-once restore (catalog.load_table_unique); observable via
    quality_expectation_report's unique rules (SURVEY §7 item 23);
    --wave9-restored: green.
    """
    comp = dup_components(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    h = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(DEDUP_SPLIT_SALT), F.col("component_id").cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % DEDUP_SPLIT_MOD
    )
    return (
        comp.join(docs, "doc_id")
        .select(
            "doc_id",
            "source",
            "component_id",
            F.col("n_members").cast("bigint").alias("n_members"),
            F.when(h == 0, F.lit("eval")).otherwise(F.lit("train")).alias("split"),
        )
        .orderBy("doc_id")
    )


def dedup_aware_split_oracle(tau: float = JACCARD_TAU) -> str:
    return f"""
        WITH RECURSIVE {jaccard_pairs_ctes_sql(tau)},
        {_closure_ctes_sql("jpairs", "component_id")}
        SELECT l.doc_id, d.source, l.component_id,
               COUNT(*) OVER (PARTITION BY l.component_id) AS n_members,
               CASE WHEN CAST(('0x' || substr(md5('{DEDUP_SPLIT_SALT}' ||
                                              CAST(l.component_id AS VARCHAR)), 1, 8))
                         AS BIGINT) % {DEDUP_SPLIT_MOD} = 0
                    THEN 'eval' ELSE 'train' END AS split
        FROM lab l JOIN documents d ON d.doc_id = l.doc_id
        ORDER BY l.doc_id
    """


# --- near_dup_keep_plan ----------------------------------------------------


def near_dup_keep_plan(
    spark: SparkSession, sf_dir: str, tau: float = JACCARD_TAU
) -> DataFrame:
    """The dedup pipeline's ACTIONABLE end product: a per-document
    keep/drop decision list over the near-dup components. Within each
    component the QUALITY-ranked survivor is kept (longest text by
    n_chars, ties to the lowest doc_id — the same policy canonical_pick
    applies to exact-hash groups, lifted to near-dup components); every
    other member is dropped with a pointer to the survivor. This is the
    table a production run writes next to the training set: the
    reproducible record of what was removed and why (the
    Lee et al. 2022 "Deduplicating Training Data Makes Language Models
    Better" removal step, made auditable).

    Rides dup_components (and therefore the session-pinned verified pair
    closure — no pair recompute); adds one narrow doc_id equi-join for
    n_chars and one window over the component partition. Component ids
    are md5-uniform small groups, so the window cannot skew; the plan is
    the closure's plan plus two narrow exchanges.

    Ingest precondition (wave 9): survivor election is a rank cut. For
    EXACT replays the tied rows are identical (doc_id ties to itself),
    so the emitted multiset is unchanged; a CONFLICTING replay (same
    doc_id, different n_chars/text) perturbs the pair set through
    dup_components and the rank boundary with it — the standard
    precondition class. Front door: the exactly-once restore
    (catalog.load_table_unique); observable via
    quality_expectation_report's unique rules (SURVEY §7 item 23).
    """
    comp = dup_components(spark, sf_dir, tau).select(
        "doc_id", "component_id", "n_members"
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    j = comp.join(docs, "doc_id")
    w = (
        Window.partitionBy("component_id")
        .orderBy(F.desc_nulls_last("n_chars"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = j.withColumn("rn", F.row_number().over(w)).withColumn(
        "kept_doc", F.first("doc_id").over(w)
    )
    return ranked.select(
        "doc_id",
        "component_id",
        F.col("n_members").cast("bigint").alias("n_members"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.when(F.col("rn") == 1, F.lit("keep")).otherwise(F.lit("drop")).alias("action"),
        F.col("kept_doc").alias("kept_doc"),
    ).orderBy("doc_id")


def near_dup_keep_plan_oracle(tau: float = JACCARD_TAU) -> str:
    return f"""
        WITH comp AS (
          SELECT doc_id, component_id, n_members
          FROM ({dup_components_oracle(tau)}) c
        ), j AS (
          SELECT comp.doc_id, comp.component_id, comp.n_members, d.n_chars
          FROM comp JOIN documents d USING (doc_id)
        ), ranked AS (
          SELECT *,
                 ROW_NUMBER() OVER (
                   PARTITION BY component_id
                   ORDER BY n_chars DESC NULLS LAST, doc_id) AS rn,
                 FIRST_VALUE(doc_id) OVER (
                   PARTITION BY component_id
                   ORDER BY n_chars DESC NULLS LAST, doc_id) AS kept_doc
          FROM j
        )
        SELECT doc_id, component_id,
               CAST(n_members AS BIGINT) AS n_members,
               CAST(n_chars AS BIGINT) AS n_chars,
               CASE WHEN rn = 1 THEN 'keep' ELSE 'drop' END AS action,
               kept_doc
        FROM ranked
        ORDER BY doc_id
    """
