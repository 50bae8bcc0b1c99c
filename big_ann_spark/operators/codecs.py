"""Refine-tier codecs of a ``write_sharded`` layout — the one module
that knows, for each tier, its sidecar files, its code column, how to
train, encode, save and load it, and how to tell which tier a layout
holds.

A refine tier stores compressed codes NEXT TO the raw vectors in
``{path}/shards`` and freezes its quantizer in one-row parquet
sidecars under ``{path}``:

======  =============================================  ===========  ===============
tier    sidecar files                                  code column  column type
======  =============================================  ===========  ===============
sq8     sq8_ranges.parquet                             codes        array<smallint>
pq      pq_codebooks.parquet                           pq_codes     array<smallint>
opq     pq_codebooks.parquet, opq_rotation.parquet     pq_codes     array<smallint>
binary  binary_thresholds.parquet                      bcodes       array<bigint>
======  =============================================  ===========  ===============

A codes-only layout (CLI ``build-index --sq8``) stores the sq8
``codes`` column INSTEAD of the raw vectors.

Sidecar values travel as a dict keyed by ``write_sharded``'s keyword
names (``sq8_ranges``, ``pq_codebooks``, ``opq_rotation``,
``binary_thresholds``): what :func:`train` fits and :func:`load` reads
back passes straight to ``write_sharded(**params)``.

Tier rule: a layout's COLUMNS decide its tier (:func:`detect`). Every
build runs :func:`save`, which deletes the sidecars of each tier it
does not write, so no sidecar outlives its code column. The one file
whose presence counts is the OPQ rotation: OPQ and PQ layouts both
store ``pq_codes``, and a rebuild without a rotation deletes it."""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from big_ann_spark.operators import oplayout
from big_ann_spark.operators import pq as PQ


def _save_row(spark, path: str, row: tuple, schema: str) -> None:
    spark.createDataFrame([row], schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)


def _save_ranges(spark, path: str, ranges) -> None:
    mins, maxs = ranges
    _save_row(spark, path, ([float(v) for v in mins], [float(v) for v in maxs]),
              "mins array<double>, maxs array<double>")


def _load_ranges(spark, path: str) -> tuple[list[float], list[float]]:
    # explicit schema: no footer-inference job on the serving path
    row = (
        spark.read.schema("mins array<double>, maxs array<double>")
        .parquet(path)
        .collect()[0]
    )
    return list(row["mins"]), list(row["maxs"])


def _save_thresholds(spark, path: str, thr) -> None:
    _save_row(spark, path, ([float(t) for t in thr],), "thresholds array<double>")


def _load_thresholds(spark, path: str) -> list[float]:
    row = spark.read.schema("thresholds array<double>").parquet(path).collect()[0]
    return list(row["thresholds"])


# write_sharded keyword -> (sidecar file under the layout root, save, load)
_SIDECARS = {
    "sq8_ranges": ("sq8_ranges.parquet", _save_ranges, _load_ranges),
    "pq_codebooks": (
        "pq_codebooks.parquet", PQ.save_pq_codebooks, PQ.load_pq_codebooks
    ),
    "opq_rotation": ("opq_rotation.parquet", PQ.save_rotation, PQ.load_rotation),
    "binary_thresholds": (
        "binary_thresholds.parquet", _save_thresholds, _load_thresholds
    ),
}

class _Tier(NamedTuple):
    column: str  # code column next to the raw vectors
    type: str  # its Spark SQL type
    params: tuple[str, ...]  # sidecar keywords; the first is required


# Detection order: a layout holding several code columns
# (write_sharded composes sq8 with pq) reports the first.
_TIERS = {
    "sq8": _Tier("codes", "array<smallint>", ("sq8_ranges",)),
    "pq": _Tier("pq_codes", "array<smallint>", ("pq_codebooks", "opq_rotation")),
    "binary": _Tier("bcodes", "array<bigint>", ("binary_thresholds",)),
}
_SQ8, _PQ, _BINARY = _TIERS.values()


def layout_columns(spark, path: str) -> list[str]:
    """Top-level column names of a layout's shards, read from the
    footer of the ``schema.parquet`` sidecar ``write_sharded`` leaves
    — a metadata read through the Hadoop FS, NO Spark job (a bare
    ``spark.read.parquet(...).columns`` runs a footer-inference job).
    Layouts without that sidecar fall back to one inferred read."""
    fs, jp = oplayout.fs_path(spark, f"{path}/schema.parquet")
    if fs.exists(jp):
        jvm = spark.sparkContext._jvm
        conf = spark.sparkContext._jsc.hadoopConfiguration()
        for st in fs.listStatus(jp):
            if st.getPath().getName().endswith(".parquet"):
                footer = jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(
                    conf, st.getPath()
                )
                return [
                    f.getName() for f in footer.getFileMetaData().getSchema().getFields()
                ]
    return spark.read.parquet(f"{path}/shards").columns


def _held_tiers(columns) -> list[str]:
    """The tiers whose code column is among ``columns``, in detection
    order."""
    return [name for name, t in _TIERS.items() if t.column in columns]


def is_refine(codec: str) -> bool:
    """Whether ``codec`` (a :func:`detect` result) serves through a
    code-column candidate scan plus an exact rerank of raw vectors."""
    return codec == "opq" or codec in _TIERS


def check_codec(codec: str) -> None:
    """Refuse a codec a from-disk search cannot serve: a codes-only
    layout has no raw column for the exact rerank."""
    if codec == "codes_only":
        raise ValueError(
            "the vector index stores SQ8 codes only (no raw column) — "
            "build with --sq8-refine (or raw) so search can rerank exactly"
        )
    if codec != "raw" and not is_refine(codec):
        raise ValueError(
            f"unknown codec {codec!r}; use 'raw', 'sq8', 'pq', 'opq' or 'binary'"
        )


def detect(spark, path: str, vec_col: str = "embedding") -> str:
    """The tier a layout serves: ``"sq8"`` / ``"pq"`` / ``"opq"`` /
    ``"binary"`` when that tier's code column sits next to the raw
    ``vec_col``; ``"codes_only"`` when sq8 codes replace the raw
    column (callers that need exact distances must refuse); else
    ``"raw"``. Zero Spark jobs (:func:`layout_columns`)."""
    cols = layout_columns(spark, path)
    if vec_col not in cols:
        return "codes_only" if _SQ8.column in cols else "raw"
    held = _held_tiers(cols)
    if not held:
        return "raw"
    if held[0] == "pq" and _exists(spark, path, "opq_rotation"):
        return "opq"
    return held[0]


def _exists(spark, path: str, param: str) -> bool:
    return oplayout.path_exists(spark, f"{path}/{_SIDECARS[param][0]}")


def load(spark, path: str, codec: str | None = None) -> dict:
    """Sidecar values of ``codec``'s tier as ``write_sharded`` kwargs
    (``codec=None``: of every tier whose code column the layout
    holds). A pq layout's rotation is loaded whenever its sidecar
    exists, so ``codec="pq"`` on an OPQ layout still builds its
    lookup tables from rotated queries; ``codec="opq"`` refuses a
    layout without the rotation."""
    if codec is None:
        tiers = _held_tiers(layout_columns(spark, path))
    elif codec == "opq" or codec in _TIERS:
        tiers = ["pq" if codec == "opq" else codec]
    else:
        raise ValueError(
            f"unknown codec {codec!r}; use 'sq8', 'pq', 'opq' or 'binary'"
        )
    out = {}
    for tier in tiers:
        required, *optional = _TIERS[tier].params
        for param in [required] + [p for p in optional if _exists(spark, path, p)]:
            fname, _save, load_fn = _SIDECARS[param]
            out[param] = load_fn(spark, f"{path}/{fname}")
    if codec == "opq" and "opq_rotation" not in out:
        raise ValueError(
            f"codec='opq' but {path} has no opq_rotation.parquet — "
            "build with --opq-refine (write_sharded(opq_rotation=…)), "
            "or serve as codec='pq'"
        )
    return out


def save(spark, path: str, params: dict) -> None:
    """Persist ``params``' sidecars under ``path`` and DELETE the
    sidecars of every tier not in ``params`` — a rebuild at the same
    path (e.g. a codec change) must not leave a stale quantizer for
    later writers and readers to pick up."""
    for param, (fname, save_fn, _load) in _SIDECARS.items():
        if param in params:
            save_fn(spark, f"{path}/{fname}", params[param])
        else:
            fs, jp = oplayout.fs_path(spark, f"{path}/{fname}")
            fs.delete(jp, True)


def code_columns(params: dict, vec_col: str) -> list[str]:
    """The code columns ``params`` add next to ``vec_col`` — none for a
    codes-only payload, whose codes ARE ``vec_col``."""
    return [
        t.column
        for t in _TIERS.values()
        if t.params[0] in params and t.column != vec_col
    ]


def encode(
    df: DataFrame, vec_col: str, params: dict, *, pq_encode_impl: str = "fold"
) -> DataFrame:
    """``df`` plus the code column of every tier in ``params``, encoded
    from ``vec_col`` under the frozen sidecar values (in detection
    order). PQ encodes with the Arrow kernel when
    ``pq_encode_impl="arrow"`` or a rotation is present (the
    expression form has no rotation), else with the bit-equal
    expression."""
    if pq_encode_impl not in ("fold", "arrow"):
        raise ValueError(
            f"pq_encode_impl must be 'fold' or 'arrow', got {pq_encode_impl!r}"
        )
    if "opq_rotation" in params and "pq_codebooks" not in params:
        raise ValueError("opq_rotation needs pq_codebooks")
    todo = code_columns(params, vec_col)
    if _SQ8.column in todo:
        mins, maxs = params["sq8_ranges"]
        df = df.withColumn(
            _SQ8.column, PQ.sq8_encode_col(vec_col, mins, maxs).cast(_SQ8.type)
        )
    if _PQ.column in todo:
        books, rotation = params["pq_codebooks"], params.get("opq_rotation")
        if pq_encode_impl == "arrow" or rotation is not None:
            df = PQ.with_pq_codes_arrow(
                df, books, vec_col=vec_col, out_col=_PQ.column, rotation=rotation
            )
        else:
            df = df.withColumn(
                _PQ.column, PQ.pq_encode_col(vec_col, books).cast(_PQ.type)
            )
    if _BINARY.column in todo:
        df = df.withColumn(
            _BINARY.column, PQ.binarize_col(vec_col, params["binary_thresholds"])
        )
    return df


def with_null_codes(df: DataFrame, columns) -> DataFrame:
    """``df`` plus a typed null column for each code column among
    ``columns`` — the code payload of a tombstone row."""
    for tier in _held_tiers(columns):
        t = _TIERS[tier]
        df = df.withColumn(t.column, F.lit(None).cast(t.type))
    return df


def payload_column(columns, vec_col: str) -> str:
    """The column holding a layout's vectors: ``vec_col``, or the sq8
    codes of a codes-only layout."""
    return vec_col if vec_col in columns else _SQ8.column


def codes_only(
    df: DataFrame, id_col: str, vec_col: str, params: dict
) -> tuple[DataFrame, str]:
    """A codes-only payload: ``df``'s vectors replaced by their sq8
    codes under ``params``' ranges. Returns the ``(id_col, codes)``
    DataFrame and the payload column for ``write_sharded(vec_col=…)``."""
    ranges = {"sq8_ranges": params["sq8_ranges"]}
    return encode(df, vec_col, ranges).select(id_col, _SQ8.column), _SQ8.column


def decode_codes_only(
    spark, path: str, shards: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """A codes-only layout's ``shards`` with the sq8 codes decoded to
    bucket midpoints under ``vec_col``; any other layout's ``shards``
    unchanged. A refine layout carries both the codes and the raw
    vectors, and decoding there would silently replace the real
    embeddings with quantized midpoints (an ``evaluate`` run would then
    report the recall of the quantization, not of the index)."""
    if _SQ8.column not in shards.columns or vec_col in shards.columns:
        return shards
    mins, maxs = load(spark, path, "sq8")["sq8_ranges"]
    return shards.select(
        id_col,
        "shard_id",
        PQ.sq8_decode_col(F.col(_SQ8.column), mins, maxs).alias(vec_col),
    )


def train(
    df: DataFrame,
    codec: str,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int | None = None,
    k: int = 16,
) -> dict:
    """Fit ``codec``'s quantizer on ``df``; returns its sidecar values
    as ``write_sharded`` kwargs. PQ/OPQ: ``m`` subquantizers (default
    the largest of 8, 4, 2, 1 dividing the dimension) of ``k`` codes.
    OPQ warm-starts from MLlib codebooks (``train_opq``'s default)."""
    if codec == "sq8":
        return {"sq8_ranges": PQ.train_sq8(df, vec_col=vec_col)}
    if codec == "binary":
        return {"binary_thresholds": PQ.train_binary(df, vec_col=vec_col)}
    if codec not in ("pq", "opq"):
        raise ValueError(
            f"unknown codec {codec!r}; use 'sq8', 'pq', 'opq' or 'binary'"
        )
    first = df.select(vec_col).first()
    if first is None:
        raise ValueError(f"cannot train codec={codec!r} on an EMPTY input")
    dim = len(first[0])
    # PQ subspaces must tile the vector
    m = m or next(s for s in (8, 4, 2, 1) if dim % s == 0)
    if codec == "pq":
        return {"pq_codebooks": PQ.train_pq(df, m=m, k=k, vec_col=vec_col, dim=dim)}
    R, books, _pmse, _omse = PQ.train_opq(
        df, m=m, k=k, vec_col=vec_col, id_col=id_col, dim=dim
    )
    return {"pq_codebooks": books, "opq_rotation": R}
