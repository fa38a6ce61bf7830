"""KG-construction queries for the driver's correctness gate.

Two families:

* ``kg01``-``kg05`` run the KG operator semantics (mention detection, triple
  extraction, deterministic entity-id assignment, connected-components
  canonicalization, degree) over the **documents** table treated as
  single-turn conversations — each has an exact DuckDB oracle, including a
  WITH RECURSIVE transitive-closure oracle for the CC stage.
* ``kg10``+ run the real transcript pipeline pieces (Arrow-UDF extraction,
  linking) over the deterministic synthetic transcripts — not
  SQL-expressible (pandas UDF / iterative), so rows-only checks here and
  exact oracle comparison in tests/.

Doc-domain closed dictionary (subset of the generator vocabulary of the
provided documents table): entities and predicates below.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..kg import extract
from ..kg.vocab import ALIASES
from ..operators.cc import connected_components
from ..sources.tables import load
from . import synth
from .registry import query

DOC_ENTITIES = ("spark", "table", "window", "stream", "batch", "query", "vector", "column", "row", "data")
DOC_PREDS = ("join", "scan", "merge", "sort", "filter", "group", "hash", "agg")

_D_TOKS = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')"
_D_ENTS = "[" + ",".join(f"'{e}'" for e in DOC_ENTITIES) + "]"
_D_PREDS = "[" + ",".join(f"'{p}'" for p in DOC_PREDS) + "]"


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda t: t != "")
    return d.select("doc_id", toks.alias("toks"))


def _doc_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-token (ENT, PRED, ENT) patterns per document."""
    t = _doc_tokens(spark, sf_dir)
    k = F.size("toks")
    idx = F.when(k >= 3, F.sequence(F.lit(1), k - 2)).otherwise(
        F.array().cast("array<int>")
    )
    tok = lambda off: F.element_at(F.col("toks"), F.col("i") + off)  # noqa: E731
    return (
        t.select("doc_id", F.explode(idx).alias("i"), "toks")
        .where(
            tok(0).isin(*DOC_ENTITIES) & tok(1).isin(*DOC_PREDS) & tok(2).isin(*DOC_ENTITIES)
        )
        .select("doc_id", tok(0).alias("subj"), tok(1).alias("pred"), tok(2).alias("obj"))
    )


_ORACLE_TRIPLES = f"""
    WITH t AS (SELECT doc_id, {_D_TOKS} AS toks FROM documents),
    tr AS (
      SELECT doc_id, toks[i] AS subj, toks[i+1] AS pred, toks[i+2] AS obj
      FROM t, unnest(range(1, greatest(len(toks) - 1, 1))) AS u(i)
      WHERE list_contains({_D_ENTS}, toks[i])
        AND list_contains({_D_PREDS}, toks[i+1])
        AND list_contains({_D_ENTS}, toks[i+2]))
"""


@query(
    "kg01_doc_mentions",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_D_TOKS} AS toks FROM documents)
    SELECT doc_id, tok AS surface, COUNT(*) AS n
    FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
    WHERE list_contains({_D_ENTS}, tok)
    GROUP BY doc_id, tok
    """,
)
def kg01_doc_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary mention detection (reference analog F3: script→address
    extraction per output, BJOutput._getAddress) — explode + dictionary
    filter, fully codegen'd."""
    t = _doc_tokens(spark, sf_dir)
    return (
        t.select("doc_id", F.explode("toks").alias("surface"))
        .where(F.col("surface").isin(*DOC_ENTITIES))
        .groupBy("doc_id", "surface")
        .agg(F.count("*").alias("n"))
    )


@query(
    "kg02_doc_triples",
    oracle=_ORACLE_TRIPLES + """
    SELECT doc_id, subj, pred, obj, COUNT(*) AS n
    FROM tr GROUP BY doc_id, subj, pred, obj
    """,
)
def kg02_doc_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(subj, pred, obj) adjacent-token triple extraction — the SQL-visible
    twin of the transcript pipeline's Arrow-UDF extractor (SURVEY.md
    §3.1)."""
    return (
        _doc_triples(spark, sf_dir)
        .groupBy("doc_id", "subj", "pred", "obj")
        .agg(F.count("*").alias("n"))
    )


@query(
    "kg03_entity_ids",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_D_TOKS} AS toks FROM documents),
    s AS (SELECT DISTINCT tok AS surface
          FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
          WHERE list_contains({_D_ENTS}, tok))
    SELECT surface, CAST(dense_rank() OVER (ORDER BY md5(surface)) AS INT) AS entity_id
    FROM s
    """,
)
def kg03_entity_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dense entity-id assignment: rank-of-md5(key) — the
    get-or-create id rule (M1, DbCachedAddressOne.java:91-115) with no
    monotonically_increasing_id anywhere. Computed by the bucketed
    two-phase rank (operators/rank.py) — byte-identical ids to the
    oracle's global ``dense_rank() OVER (ORDER BY md5(surface))`` but with
    no single-partition exchange."""
    from ..operators.rank import ranked_by_md5

    t = _doc_tokens(spark, sf_dir)
    surfaces = (
        t.select(F.explode("toks").alias("surface"))
        .where(F.col("surface").isin(*DOC_ENTITIES))
        .distinct()
    )
    return ranked_by_md5(surfaces, "surface", "entity_id", prefix_len=2).select(
        "surface", F.col("entity_id").cast("int").alias("entity_id")
    )


@query(
    "kg04_canonical_components",
    oracle=_ORACLE_TRIPLES.replace("WITH t AS", "WITH RECURSIVE t AS", 1) + f""",
    ids AS (SELECT DISTINCT tok AS surface,
                   CAST(dense_rank() OVER (ORDER BY md5(tok)) AS BIGINT) AS id
            FROM (SELECT unnest({_D_ENTS}) AS tok)
            WHERE tok IN (SELECT subj FROM tr UNION SELECT obj FROM tr)),
    e0 AS (SELECT DISTINCT s.id AS src, o.id AS dst
           FROM tr JOIN ids s ON s.surface = tr.subj JOIN ids o ON o.surface = tr.obj
           WHERE s.id <> o.id),
    und AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
    reach(src, dst) AS (
      SELECT id, id FROM ids
      UNION
      SELECT r.src, u.dst FROM reach r JOIN und u ON u.src = r.dst)
    SELECT i.surface, CAST(MIN(r.dst) AS INT) AS canon_id
    FROM ids i JOIN reach r ON r.src = i.id
    GROUP BY i.surface
    """,
)
def kg04_canonical_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalization: connected components over the triple co-occurrence
    graph, label = min entity id (M2 merge-into-min rule). The Spark side is
    operators/cc.py (its small-graph kernel at this size); the oracle is an
    independent WITH RECURSIVE transitive closure."""
    from ..operators.rank import ranked_by_md5

    tr = _doc_triples(spark, sf_dir)
    surfaces = (
        tr.select(F.col("subj").alias("surface"))
        .unionByName(tr.select(F.col("obj").alias("surface")))
        .distinct()
    )
    ids = ranked_by_md5(surfaces, "surface", "id", prefix_len=2).select("surface", "id")
    # The id map is bounded by the DOC_ENTITIES dictionary: materialize it
    # once, so neither the edges nor the final join re-runs the rank.
    ids = spark.createDataFrame(ids.toArrow())
    # CC drops the self-loops and deduplicates the (least, greatest) pairs
    edges = (
        tr.join(ids.withColumnRenamed("surface", "subj").withColumnRenamed("id", "src"), "subj")
        .join(ids.withColumnRenamed("surface", "obj").withColumnRenamed("id", "dst"), "obj")
        .select("src", "dst")
    )
    comp = connected_components(edges, "src", "dst")
    return ids.join(comp, ids.id == comp.node, "left").select(
        "surface",
        F.coalesce(F.col("component"), F.col("id")).cast("int").alias("canon_id"),
    )


@query(
    "kg05_entity_degree",
    oracle=_ORACLE_TRIPLES + """
    SELECT surface, CAST(SUM(n) AS BIGINT) AS degree FROM (
      SELECT subj AS surface, COUNT(*) AS n FROM tr GROUP BY subj
      UNION ALL
      SELECT obj AS surface, COUNT(*) AS n FROM tr GROUP BY obj)
    GROUP BY surface
    """,
)
def kg05_entity_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: entity degree over the materialized triple edges — the
    'top addresses by activity' analog (SURVEY.md §7.1 step 5)."""
    tr = _doc_triples(spark, sf_dir)
    outd = tr.groupBy(F.col("subj").alias("surface")).agg(F.count("*").alias("n"))
    ind = tr.groupBy(F.col("obj").alias("surface")).agg(F.count("*").alias("n"))
    return (
        outd.unionByName(ind)
        .groupBy("surface")
        .agg(F.sum("n").cast("long").alias("degree"))
    )


@query(
    "f02_mention_flags",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_D_TOKS} AS toks FROM documents),
    m AS (SELECT doc_id, toks[i+1] AS surface, i AS pos
          FROM t, unnest(range(0, len(toks))) AS u(i)
          WHERE list_contains({_D_ENTS}, toks[i+1])),
    agg AS (SELECT doc_id, surface, COUNT(*) AS n, MIN(pos) AS first_pos
            FROM m GROUP BY doc_id, surface),
    sparse AS (SELECT doc_id, surface, n >= 2 AS flag_repeated, first_pos <= 2 AS flag_lead
               FROM agg WHERE n >= 2 OR first_pos <= 2)
    SELECT a.doc_id, a.surface,
           COALESCE(s.flag_repeated, FALSE) AS flag_repeated,
           COALESCE(s.flag_lead, FALSE) AS flag_lead
    FROM agg a LEFT JOIN sparse s ON s.doc_id = a.doc_id AND s.surface = a.surface
    """,
)
def f02_mention_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 sparse-flags side table + read-side join-back (input_special
    analog: DbQueryInputSpecial.java / TxInputSpecial.java store flag rows
    ONLY for non-default inputs; readers re-attach them with defaults).
    Here: per-(doc, surface) mention flags (repeated >= 2, lead position
    <= 2) materialized sparsely, then LEFT-joined back onto the full
    mention aggregate with coalesced FALSE defaults. The transcript
    pipeline twin is kg/extract.py::mention_flags_from_extracted (its
    join-back tested in tests/test_pipeline.py)."""
    t = _doc_tokens(spark, sf_dir)
    m = t.select("doc_id", F.posexplode("toks").alias("pos", "surface")).where(
        F.col("surface").isin(*DOC_ENTITIES)
    )
    agg = m.groupBy("doc_id", "surface").agg(
        F.count("*").alias("n"), F.min("pos").alias("first_pos")
    )
    sparse = agg.where((F.col("n") >= 2) | (F.col("first_pos") <= 2)).select(
        "doc_id",
        "surface",
        (F.col("n") >= 2).alias("flag_repeated"),
        (F.col("first_pos") <= 2).alias("flag_lead"),
    )
    return (
        agg.select("doc_id", "surface")
        .join(sparse, ["doc_id", "surface"], "left")
        .select(
            "doc_id",
            "surface",
            F.coalesce("flag_repeated", F.lit(False)).alias("flag_repeated"),
            F.coalesce("flag_lead", F.lit(False)).alias("flag_lead"),
        )
    )


# ---- tags schema (create-db-structure-tags.sql analog) ----------------------

_TAG_NAMES = ("compute", "storage", "format")
# curated (display_name → tag name) rules — the wallet_tag CSV analog;
# several DOC_ENTITIES stay untagged so the empty-array default is exercised
_TAG_RULES = (
    ("spark", "compute"),
    ("stream", "compute"),
    ("query", "compute"),
    ("table", "storage"),
    ("row", "storage"),
    ("column", "format"),
    ("vector", "format"),
)


@query(
    "kg12_tagged_nodes",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_D_TOKS} AS toks FROM documents),
    s AS (SELECT DISTINCT tok AS surface
          FROM (SELECT unnest(toks) AS tok FROM t)
          WHERE list_contains({_D_ENTS}, tok)),
    ids AS (SELECT surface, CAST(dense_rank() OVER (ORDER BY md5(surface)) AS BIGINT) AS node_id
            FROM s),
    rules(surface, tag) AS (VALUES {", ".join(f"('{s}', '{t}')" for s, t in _TAG_RULES)}),
    per_node AS (SELECT i.node_id, list_sort(list(DISTINCT r.tag)) AS tags
                 FROM ids i JOIN rules r ON r.surface = i.surface
                 GROUP BY i.node_id)
    SELECT i.node_id, i.surface,
           COALESCE(array_to_string(p.tags, ','), '') AS tags
    FROM ids i LEFT JOIN per_node p USING (node_id)
    """,
)
def kg12_tagged_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tags schema end-to-end (reference create-db-structure-tags.sql:1-31):
    deterministic tag dimension (rank-of-md5 ids), curated rules → entity_tag
    link table, read-side join-back decorating every node with a sorted
    (possibly empty) tag-name array — the F8 coalesce shape.

    Gate serialization: the library function (tagmod.tagged_nodes) returns a
    genuine array<string> for users, but the DRIVER's pandas hash gate cannot
    sort/hash list cells (the r3 red row), so the registered query emits the
    sorted array as a canonical comma-joined string — the a06 pattern
    (plans/relational_queries.py), applied identically on the oracle side
    with array_to_string + COALESCE('') for the empty default."""
    from ..kg import tags as tagmod
    from ..operators.rank import ranked_by_md5

    t = _doc_tokens(spark, sf_dir)
    surfaces = (
        t.select(F.explode("toks").alias("surface"))
        .where(F.col("surface").isin(*DOC_ENTITIES))
        .distinct()
    )
    nodes = ranked_by_md5(surfaces, "surface", "node_id", prefix_len=2).select("node_id", "surface")
    tagd = tagmod.tag_dim(spark, list(_TAG_NAMES))
    rules = spark.createDataFrame(list(_TAG_RULES), "display_name string, name string")
    entities = nodes.select(
        F.col("node_id").cast("int").alias("entity_id"), F.col("surface").alias("display_name")
    )
    et = tagmod.tag_entities(entities, rules, tagd)
    tagged = tagmod.tagged_nodes(nodes, et, tagd)
    # tags is already array_sort'ed (kg/tags.py); empty array → '' matches
    # the oracle's COALESCE(array_to_string(...), '')
    return tagged.withColumn("tags", F.concat_ws(",", "tags"))


# ---- transcript-domain oracles (VERDICT r02 item 2) -------------------------
# The deterministic transcripts are materialized to a shared parquet path
# by the Spark query itself (plans/synth.py), and the oracle reads the
# SAME bytes back. BOTH sides pin n_convs=200 at EVERY sf — oracle SQL is
# a static string, so an sf-scaled Spark side would silently compare
# against the wrong table at sf != 0.01 (false regression or a missing-
# file DuckDB error). Scale exercise for the transcript path lives in
# bench.py's pipeline/extraction sections (20k/50k convs), not here.
from ..kg.vocab import ALL_SURFACES, PREDICATES  # noqa: E402

_T_CONVS = 200
_T_PATH = synth.transcripts_path(_T_CONVS) + "/*.parquet"
_T_TOKS = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')"
_T_SURF = "[" + ",".join(f"'{s}'" for s in ALL_SURFACES) + "]"
_T_PREDS = "[" + ",".join(f"'{p}'" for p in PREDICATES) + "]"
_T_ALIAS_CASE = (
    "CASE tok "
    + " ".join(f"WHEN '{a}' THEN '{e}'" for a, e in ALIASES.items())
    + " ELSE tok END"
)


@query(
    "kg10_transcript_triples",
    oracle=f"""
    WITH t AS (SELECT conv_id, turn_idx, {_T_TOKS} AS toks
               FROM read_parquet('{_T_PATH}'))
    SELECT conv_id, turn_idx,
           toks[i] AS subj_surface, toks[i+1] AS pred, toks[i+2] AS obj_surface,
           CAST(i - 1 AS INT) AS subj_pos
    FROM t, unnest(range(1, greatest(len(toks) - 1, 1))) AS u(i)
    WHERE list_contains({_T_SURF}, toks[i])
      AND list_contains({_T_PREDS}, toks[i+1])
      AND list_contains({_T_SURF}, toks[i+2])
    """,
)
def kg10_transcript_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triple extraction over the deterministic synthetic transcripts via
    the Arrow-vectorized pandas UDF (the PRODUCTION extraction path —
    RunFullScan.processTransaction analog). The oracle re-derives the
    triples in pure SQL from the materialized transcript bytes: the i/i+2
    mention + i+1 predicate adjacency with 0-based subj_pos."""
    tr = synth.materialized_transcripts(spark, n_convs=_T_CONVS)
    ex = extract.extract(tr)
    return extract.triples_from(ex)


@query(
    "kg11_transcript_canon",
    oracle=f"""
    WITH RECURSIVE t AS (SELECT conv_id, turn_idx, {_T_TOKS} AS toks
               FROM read_parquet('{_T_PATH}')),
    men AS (SELECT conv_id, turn_idx, tok
            FROM (SELECT conv_id, turn_idx, unnest(toks) AS tok FROM t)
            WHERE list_contains({_T_SURF}, tok)),
    keyed AS (SELECT conv_id, turn_idx, {_T_ALIAS_CASE} AS ekey FROM men),
    ids AS (SELECT ekey, CAST(dense_rank() OVER (ORDER BY md5(ekey)) AS INT) AS entity_id
            FROM (SELECT DISTINCT ekey FROM keyed)),
    inc AS (SELECT DISTINCT k.conv_id || '#' || CAST(k.turn_idx AS VARCHAR) AS tk,
                   i.entity_id AS member
            FROM keyed k JOIN ids i ON i.ekey = k.ekey),
    gm AS (SELECT tk, MIN(member) AS gmin FROM inc GROUP BY tk),
    e0 AS (SELECT DISTINCT gmin AS src, member AS dst
           FROM inc JOIN gm USING (tk) WHERE member <> gmin),
    und AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
    reach(src, dst) AS (
      SELECT entity_id, entity_id FROM ids
      UNION
      SELECT r.src, u.dst FROM reach r JOIN und u ON u.src = r.dst)
    SELECT i.entity_id, CAST(MIN(r.dst) AS INT) AS canon_id
    FROM ids i JOIN reach r ON r.src = i.entity_id
    GROUP BY i.entity_id
    """,
)
def kg11_transcript_canon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity canon map over synthetic transcripts: link mentions (broadcast
    alias dict + LSH fallback), co-mention star edges, iterative CC. The
    oracle independently rebuilds the whole chain in SQL — alias CASE
    resolution, dense_rank-of-md5 entity ids, per-turn star edges, and a
    WITH RECURSIVE min-label transitive closure (kg04 pattern, transcript
    domain)."""
    from ..kg import canonicalize, link

    tr = synth.materialized_transcripts(spark, n_convs=_T_CONVS)
    # persist the flattened mentions: linking, co-mention edges, and CC all
    # branch from it — without this the Arrow extraction re-runs per action
    mentions = extract.mentions_from(extract.extract(tr)).persist()
    # link returns entities already materialized (a localCheckpoint of the
    # tiny distinct-surface table), which lets the mention cache be RELEASED
    # before return — r4 leaked it into the driver's shared 50-query session
    # (the kg11 in-bench 2.9x mover, VERDICT r4 item 3)
    linked, entities, _ = link.link_mentions(mentions, link.default_alias_dict(spark), spark=spark)
    edges = canonicalize.comention_edges(linked)
    # connected_components materializes eagerly inside canon_map, so every
    # consumer of the mention cache has run by the time it returns; the
    # entities checkpoint is kept, because the returned frame reads it
    out = canonicalize.canon_map(entities, edges)
    mentions.unpersist()
    return out
