"""Corpus ingestion sources: JSONL / CSV / parquet / raw text → one
normalized document schema.

A training-data pipeline rarely starts from tidy parquet — crawls arrive
as JSONL (one doc per line, usually gzipped), CSV exports, or raw text
files. ``read_corpus`` normalizes any of them to the engine's document
contract ``(doc_id, text, …passthrough metadata)`` so every downstream
operator (dedup, quality, chunking, DSIR, …) runs unchanged.

Scale notes:

- JSONL and CSV are line-splittable; gzip members are NOT — a ``.gz``
  file is one split no matter its size, so shard compressed corpora into
  many files (the standard crawl layout) and parallelism comes from the
  file count. Spark decompresses transparently either way.
- ``id_from="hash"`` derives the doc id from the text's md5 (first 15 hex
  digits as a 60-bit long) — deterministic across reruns/engines, no
  ``monotonically_increasing_id`` (which is partition-layout-dependent
  and breaks differential checks).
- Schema is explicit, never inferred twice: pass ``text_field`` (and
  optionally ``id_field``) and everything else rides along untouched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

_FORMATS = ("jsonl", "csv", "parquet", "text")


def list_basename_collisions(
    spark: SparkSession, path: str, max_files: int = 1_000_000
) -> dict[str, int]:
    """Metadata-only scan (Hadoop FileSystem listing, never reads a byte
    of data): basenames that appear under more than one DISTINCT file
    path beneath ``path`` → occurrence count. Used by :func:`read_corpus`
    to warn when hash-derived ids would collide across same-named files;
    callable directly as a pre-flight check. Listing cost = file count —
    the same metadata pass Spark's reader itself performs."""
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    hpath = getattr(spark.sparkContext._jvm, "org.apache.hadoop.fs.Path")(path)
    fs = hpath.getFileSystem(conf)
    statuses = fs.globStatus(hpath)
    if statuses is None:
        return {}
    counts: dict[str, int] = {}
    seen = 0
    stack = list(statuses)
    while stack:
        st = stack.pop()
        if st.isDirectory():
            stack.extend(fs.listStatus(st.getPath()))
            continue
        seen += 1
        if seen > max_files:
            raise ValueError(
                f"list_basename_collisions: more than {max_files} files under "
                f"{path!r}; raise max_files or check a subtree"
            )
        name = st.getPath().getName()
        counts[name] = counts.get(name, 0) + 1
    return {k: v for k, v in counts.items() if v > 1}


def read_corpus(
    spark: SparkSession,
    path: str,
    fmt: str = "jsonl",
    text_field: str = "text",
    id_field: str | None = None,
    csv_options: dict[str, str] | None = None,
    salt: str = "basename",
) -> DataFrame:
    """Read a document corpus into ``(doc_id long, text string, …)``.

    ``fmt``: ``jsonl`` (one JSON object per line, ``.gz`` transparent),
    ``csv`` (header by default; override via ``csv_options``),
    ``parquet``, or ``text`` (one doc per line, no metadata).
    ``id_field=None`` → deterministic 60-bit md5 hash of the text SALTED
    with the source file's BASENAME — raw crawls repeat identical texts
    across files constantly, and an unsalted content hash would silently
    collapse those rows onto one doc_id (downstream groupBys would then
    double-count occurrences under a single id). The salt is the file
    name only, never the absolute URI: re-reading the identical corpus
    from a different directory, mount point, or host yields the SAME
    doc_ids, so persisted downstream artifacts (dedup clusters, feature
    tables, span reports) keyed on them survive relocation. Two
    caveats, both inherent to name-salting: identical texts in the SAME
    file share an id (they are indistinguishable rows — run exact dedup
    explicitly if that matters), and identical texts in two files that
    share a basename across subdirectories also collide. The second is
    no longer silent: when hash ids are in use, a metadata-only listing
    (:func:`list_basename_collisions` — file count cost, zero data read)
    warns with the colliding names. For per-domain layouts where shards
    DO share basenames (``…/domainA/data.jsonl``, ``…/domainB/data.jsonl``),
    pass ``salt="dirname"`` to salt with the last TWO path components —
    unique there, and still relocation-stable as long as the leaf
    directory names travel with the files (ids then change if the leaf
    dirs themselves are renamed, which that layout treats as identity).
    """
    if fmt not in _FORMATS:
        raise ValueError(f"read_corpus fmt must be one of {_FORMATS}, got {fmt!r}")
    if salt not in ("basename", "dirname"):
        raise ValueError(f"read_corpus salt must be basename|dirname, got {salt!r}")
    if fmt == "jsonl":
        df = spark.read.json(path)
    elif fmt == "csv":
        opts = {"header": "true", **(csv_options or {})}
        df = spark.read.options(**opts).csv(path)
    elif fmt == "parquet":
        df = spark.read.parquet(path)
    else:
        df = spark.read.text(path).withColumnRenamed("value", text_field)

    if text_field not in df.columns:
        raise ValueError(
            f"corpus at {path!r} has no {text_field!r} column (columns: {df.columns})"
        )
    text = F.col(text_field).cast("string")
    if id_field is not None:
        if id_field not in df.columns:
            raise ValueError(f"id column {id_field!r} not in {df.columns}")
        doc_id = F.col(id_field).cast("long")
    else:
        collisions = list_basename_collisions(spark, path)
        if collisions and salt == "basename":
            import warnings

            sample = sorted(collisions)[:5]
            warnings.warn(
                f"read_corpus: {len(collisions)} basename(s) appear in multiple "
                f"files under {path!r} (e.g. {sample}); identical texts across "
                "same-named files will share a doc_id. Pass salt='dirname' or "
                "rename the shards.",
                stacklevel=2,
            )
        parts = F.split(F.input_file_name(), "/")
        basename = F.element_at(parts, -1)
        if salt == "dirname":
            file_salt = F.concat_ws(
                "/",
                F.when(F.size(parts) >= 2, F.element_at(parts, -2)).otherwise(
                    F.lit("")
                ),
                basename,
            )
        else:
            file_salt = basename
        doc_id = F.conv(
            F.substring(
                F.md5(F.concat_ws("\x1f", file_salt, text)), 1, 15
            ),
            16,
            10,
        ).cast("long")
    passthrough = [
        c for c in df.columns if c not in (text_field, id_field, "doc_id")
    ]
    return df.select(
        doc_id.alias("doc_id"), text.alias("text"), *[F.col(c) for c in passthrough]
    )
