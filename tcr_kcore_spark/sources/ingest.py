"""Corpus → link-graph ingest (SURVEY.md §7 step 1; north_rule input shape).

Pipeline, all JVM-side (regexp_extract_all / split / explode — no Python in
the hot path, per the input_hint mandate):

1. fingerprint every row with ``sha2(content, 256)`` (``file_table``) — the
   per-row invariant the north_rule requires us to preserve and verify;
2. extract import statements with one vectorized regex per import kind
   (intra-repo / cross-repo; syntax per ``corpus.py``);
3. resolve targets against the file table (joins, broadcast when small);
4. densify ``(repo, path)`` → dense file ids ``0..V-1`` ordered by
   ``(repo, path)`` — the analog of the reference's ``vertex_to_index``
   densification (``TCR/src/type/CSRGraph.py:432-441``);
5. emit the ``(src, dst)`` edge table, self-imports dropped, deduped —
   mirroring the reference's self-loop removal + dedup on ingest
   (``KCoreGPU-master/.../src/graph.cpp:87-101``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tcr_kcore_spark.plans.partitioning import dense_index

INTRA_RE = r'(?:from|import)\s+"?src[./]m(\d+)'
CROSS_RE = r'ext[./]([A-Za-z0-9_]+[./]m\d+)'


def fingerprint(corpus: DataFrame) -> DataFrame:
    """corpus + sha256(content) column."""
    return corpus.withColumn("sha256", F.sha2(F.col("content"), 256))


def _file_num() -> Column:
    return F.regexp_extract("path", r"m(\d+)\.", 1).cast("long").alias("file_num")


def file_table(corpus: DataFrame) -> DataFrame:
    """(repo, path, lang, file_num, sha256) — one row per file."""
    return fingerprint(corpus).select("repo", "path", "lang", _file_num(), "sha256")


def file_ids(files: DataFrame) -> DataFrame:
    """(repo, path, id): dense ids 0..V-1 in (repo, path) order.

    Numbered JVM-side by ``plans.partitioning.dense_index`` (range
    partition, in-partition positions, driver-side partition offsets) —
    no global single-partition window, no Python worker.  The result is
    materialized; free it with ``superstep.release_state``."""
    return dense_index(files.select("repo", "path").distinct(), ["repo", "path"], "id")


def extract_imports(corpus: DataFrame) -> DataFrame:
    """(repo, path, kind, target_slug, target_num): one row per import
    statement found in content.  kind ∈ {intra, cross}."""
    base = corpus.select("repo", "path", "content")
    intra = base.select(
        "repo",
        "path",
        F.explode(F.regexp_extract_all(F.col("content"), F.lit(INTRA_RE), F.lit(1))).alias(
            "num_s"
        ),
    ).select(
        "repo",
        "path",
        F.lit("intra").alias("kind"),
        F.lit(None).cast("string").alias("target_slug"),
        F.col("num_s").cast("long").alias("target_num"),
    )
    cross_raw = base.select(
        "repo",
        "path",
        F.explode(F.regexp_extract_all(F.col("content"), F.lit(CROSS_RE), F.lit(1))).alias(
            "m"
        ),
    )
    cross = cross_raw.select(
        "repo",
        "path",
        F.lit("cross").alias("kind"),
        F.regexp_extract("m", r"^([A-Za-z0-9_]+)[./]m\d+$", 1).alias("target_slug"),
        F.regexp_extract("m", r"m(\d+)$", 1).cast("long").alias("target_num"),
    )
    return intra.unionByName(cross)


def corpus_to_edges(corpus: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Returns (edges, id_map): edges = (src, dst) dense file ids, deduped,
    self-imports dropped; id_map = (repo, path, id).  Both are materialized
    (lineage-truncated); free with ``superstep.release_state``."""
    from tcr_kcore_spark.superstep import truncate_lineage

    # the fingerprint is file_table's public contract; the edges never read it
    files = corpus.select("repo", "path", _file_num()).persist()
    ids = file_ids(files)  # already materialized by file_ids

    imports = extract_imports(corpus)
    # resolve target (repo, file_num) -> (repo, path)
    targets = files.select(
        F.col("repo").alias("t_repo"),
        F.col("path").alias("t_path"),
        F.col("file_num").alias("t_num"),
    )
    slug_map = (
        files.select("repo")
        .distinct()
        .select(F.col("repo").alias("s_repo"), F.regexp_replace("repo", "/", "_").alias("slug"))
    )
    intra_resolved = (
        imports.where("kind = 'intra'")
        .join(
            targets,
            (F.col("repo") == F.col("t_repo")) & (F.col("target_num") == F.col("t_num")),
        )
        .select("repo", "path", "t_repo", "t_path")
    )
    cross_resolved = (
        imports.where("kind = 'cross'")
        .join(F.broadcast(slug_map), F.col("target_slug") == F.col("slug"))
        .join(
            targets,
            (F.col("t_repo") == F.col("s_repo"))
            & (F.col("target_num") == F.col("t_num")),
        )
        .select("repo", "path", "t_repo", "t_path")
    )
    resolved = intra_resolved.unionByName(cross_resolved)

    src_ids = ids.select(
        F.col("repo"), F.col("path"), F.col("id").alias("src")
    )
    dst_ids = ids.select(
        F.col("repo").alias("t_repo"), F.col("path").alias("t_path"), F.col("id").alias("dst")
    )
    edges = (
        resolved.join(src_ids, ["repo", "path"])
        .join(dst_ids, ["t_repo", "t_path"])
        .select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    edges = truncate_lineage(edges)
    files.unpersist()  # edges + ids are bare scans now; nothing reads files
    return edges, ids


def sha256_invariant_check(source: DataFrame, ingested_files: DataFrame) -> int:
    """North_rule per-row invariant: every ingested row's sha256 equals the
    source row's sha256(content).  Returns the number of violating rows
    (0 = pass)."""
    src_sha = source.select(
        "repo", "path", F.sha2(F.col("content"), 256).alias("src_sha")
    )
    joined = ingested_files.select("repo", "path", "sha256").join(
        src_sha, ["repo", "path"], "left"
    )
    return joined.where(
        F.col("src_sha").isNull() | (F.col("src_sha") != F.col("sha256"))
    ).count()
