"""Zarr v2 — the ``ZarrFormat`` for the first format generation (public
spec, zarr-specs v2), plus the registered v2 roundtrip queries.  The
reader, writers and consolidation driver are format-agnostic and live in
``zarr.py``; this module holds only what v2 does differently:

- per-array ``.zarray`` JSON: ``shape``, ``chunks``, ``dtype`` (numpy
  typestr, e.g. ``<f4`` — the endianness lives in the dtype),
  ``compressor`` (numcodecs config or null), ``fill_value``, ``filters``,
  ``order`` and ``zarr_format: 2``; groups carry ``.zgroup`` and user
  attributes a separate ``.zattrs``;
- chunk objects named by dot-separated grid coords (``"3.0"``), each the
  C-order binary block of one FULL chunk (edge chunks padded to the chunk
  shape with ``fill_value``) run through the one compressor;
- consolidated metadata is zarr-python's ``.zmetadata`` document
  (``{"metadata": {".zgroup": ..., "X/.zarray": ...},
  "zarr_consolidated_format": 1}``);
- strings store as fixed-width ``|S<n>`` bytes (no filter codec needed).

Codecs: ``null`` (raw), ``zlib``, ``gzip`` (stdlib), and ``blosc`` — the
zarr-python DEFAULT — via the pure-Python container codec in
``blosc_py.py``: lz4/zlib cnames and byte shuffle decode without the
native library; zstd/snappy/blosclz/bitshuffle still raise a clear error
naming the codec.
"""

from __future__ import annotations

import gzip
import json
import os
import re
import zlib
from dataclasses import dataclass, field

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query
from .zarr import (
    COO_ORACLE,
    OBSM_ORACLE,
    ZarrFormat,
    append_zarr_rows,
    consolidate_metadata,
    obsm_projection,
    read_group_coo,
    read_zarr_matrix_consolidated,
    read_zarr_vector_consolidated,
    scratch_store,
    write_zarr_group,
    zarr_matrix_coo,
)

#: zarr-python's v2 consolidated-metadata container version.
ZARR_CONSOLIDATED_FORMAT = 1

DEFAULT_COMPRESSOR = {"id": "zlib", "level": 1}

_CHUNK_NAME = re.compile(r"^\d+(\.\d+)*$")


def _compress(block: bytes, compressor: dict | None, typesize: int = 1) -> bytes:
    if compressor is None:
        return block
    cid = compressor.get("id")
    if cid == "zlib":
        return zlib.compress(block, compressor.get("level", 1))
    if cid == "gzip":
        return gzip.compress(block, compresslevel=compressor.get("level", 1))
    if cid == "blosc":
        from . import blosc_py

        # numcodecs Blosc config: cname/clevel/shuffle (0 none, 1 byte,
        # 2 bit) / blocksize.  blosc_py encodes zlib/lz4 splits in pure
        # Python and zstd when a zstd module is importable — all
        # spec-valid for any real decoder.
        if compressor.get("shuffle", 1) == 2:
            raise NotImplementedError("blosc bit-shuffle needs the native library")
        return blosc_py.compress(
            block,
            typesize,
            cname=compressor.get("cname", "lz4"),
            clevel=compressor.get("clevel", 5),
            shuffle=compressor.get("shuffle", 1) == 1,
            blocksize=compressor.get("blocksize", 0),
        )
    raise NotImplementedError(
        f"zarr compressor {cid!r} needs a native codec not in this environment"
    )


def _decompress(blob: bytes, compressor: dict | None) -> bytes:
    if compressor is None:
        return blob
    cid = compressor.get("id")
    if cid == "zlib":
        return zlib.decompress(blob)
    if cid == "gzip":
        return gzip.decompress(blob)
    if cid == "blosc":
        from . import blosc_py

        return blosc_py.decompress(blob)
    raise NotImplementedError(
        f"zarr compressor {cid!r} needs a native codec not in this environment"
    )


@dataclass(frozen=True)
class V2(ZarrFormat):
    """Zarr v2; ``compressor`` is the numcodecs config new arrays are
    written with (``None``: raw chunks)."""

    compressor: dict | None = field(default_factory=lambda: dict(DEFAULT_COMPRESSOR))

    VERSION = 2
    NODE_FILES = (".zarray", ".zgroup", ".zattrs")
    ARRAY_META = ".zarray"

    def validate_meta(self, doc: dict, where: str) -> dict:
        if doc.get("zarr_format") != 2:
            raise ValueError(f"not a zarr v2 array: {where}")
        if doc.get("filters"):
            raise NotImplementedError("zarr filters are not supported")
        return doc

    def document(self, shape, chunks, dtype: np.dtype, fill) -> dict:
        return {
            "zarr_format": 2,
            "shape": shape,
            "chunks": chunks,
            "dtype": dtype.str,
            "compressor": self.compressor,
            "fill_value": fill,
            "filters": None,
            "order": "C",
        }

    def write_group_meta(self, path: str) -> None:
        with open(os.path.join(path, ".zgroup"), "w") as f:
            json.dump({"zarr_format": 2}, f)

    def column_dtype(self, spark_type: str, width: int) -> tuple[np.dtype, object]:
        # strings: fixed-width |S<n> bytes — the NumPy/Zarr-v2 spec dtype
        # WITHOUT filters (the VLenUTF8 object-dtype route needs a filter
        # codec this reader refuses); NULL has no sentinel, so no fill
        if spark_type == "string":
            return np.dtype(f"S{width}"), None
        return super().column_dtype(spark_type, width)

    def chunk_key(self, meta: dict, coords: tuple[int, ...]) -> str:
        return ".".join(str(c) for c in coords)

    def chunk_coords(self, meta: dict, array_path: str, file_path: str) -> tuple[int, ...]:
        name = os.path.basename(file_path)
        if not _CHUNK_NAME.match(name):
            raise ValueError(f"not a zarr chunk object: {file_path}")
        return tuple(int(p) for p in name.split("."))

    def chunk_files(self, spark: SparkSession, array_path: str) -> DataFrame:
        return (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "[0-9]*")
            .load(array_path)
            .select("path", "content")
        )

    def encode_chunk(self, meta: dict, block: np.ndarray, valid_rows: int | None) -> bytes:
        raw = np.ascontiguousarray(block).tobytes(order="C")
        return _compress(raw, meta.get("compressor"), block.dtype.itemsize)

    def decode_chunk(self, meta: dict, blob: bytes) -> np.ndarray:
        raw = _decompress(blob, meta.get("compressor"))
        return np.frombuffer(raw, dtype=meta["dtype"]).reshape(
            meta["chunks"], order=meta.get("order", "C")
        )

    def write_group_attrs(self, group_path: str, attrs: dict) -> None:
        """Write (replace) the group's ``.zattrs`` document."""
        with open(os.path.join(group_path, ".zattrs"), "w") as f:
            json.dump(attrs, f, sort_keys=True)

    def read_group_attrs(self, group_path: str) -> dict:
        try:
            with open(os.path.join(group_path, ".zattrs")) as f:
                return json.load(f)
        except FileNotFoundError:
            return {}

    def read_consolidated(self, group_path: str) -> dict:
        """Parse ``.zmetadata``.  Raises ``FileNotFoundError`` when the
        store is not consolidated and ``ValueError`` on a container version
        we did not implement against (decoding anyway could silently
        misread a future layout)."""
        with open(os.path.join(group_path, ".zmetadata")) as fh:
            doc = json.load(fh)
        fmt = doc.get("zarr_consolidated_format")
        if fmt != ZARR_CONSOLIDATED_FORMAT:
            raise ValueError(
                f"unsupported zarr_consolidated_format {fmt!r} at {group_path}"
                f" (implemented: {ZARR_CONSOLIDATED_FORMAT})"
            )
        md = doc.get("metadata")
        if not isinstance(md, dict):
            raise ValueError(f"malformed .zmetadata at {group_path}: no metadata map")
        return md

    def consolidated_key(self, rel_dir: str, fname: str) -> str | None:
        if fname not in (".zgroup", ".zarray", ".zattrs"):
            return None
        return fname if rel_dir == "." else f"{rel_dir}/{fname}"

    def consolidated_document(self, group_path: str, metadata: dict) -> tuple[str, dict]:
        return ".zmetadata", {
            "metadata": metadata,
            "zarr_consolidated_format": ZARR_CONSOLIDATED_FORMAT,
        }


# --- registered v2 roundtrips ------------------------------------------------------


@query("zarr_roundtrip", oracle=COO_ORACLE, tags=("sources", "zarr"), cache=False)
def zarr_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+A2 end-to-end on the REAL format: embeddings → Zarr v2 group
    write (zlib chunks, padded edge chunk) → parallel chunk read of both
    arrays → row-index join → COO.  Hash-equality with the parquet-derived
    COO oracle proves the store reproduces the matrix bit-for-bit (float32
    values round-tripped exactly, rounded to 6 only for the oracle's
    double formatting)."""
    store = scratch_store("sce_zarr_row", sf_dir)
    write_zarr_group(load_table(spark, sf_dir, "embeddings"), store, V2())
    return read_group_coo(spark, store)


@query(
    "zarr_colchunk_roundtrip",
    oracle=COO_ORACLE,
    tags=("sources", "zarr", "blosc"),
    cache=False,
)
def zarr_colchunk_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A **2-D chunk grid** (``[64, ceil(dim/2)]`` — every matrix row spans
    two chunk objects, exercising ``read_zarr_matrix``'s col0 branch and
    the right-edge column padding) written with the **blosc** compressor
    (zarr-python's default codec family; pure-Python container codec in
    ``blosc_py`` — zlib cname, byte shuffle).  Identical COO oracle to
    ``zarr_roundtrip``: hash equality proves both the column arithmetic
    and the blosc encode/decode are bit-exact."""
    e = load_table(spark, sf_dir, "embeddings")
    e_dim = int(e.agg(F.max(F.size("embedding"))).collect()[0][0])
    blosc = {"id": "blosc", "cname": "zlib", "clevel": 3, "shuffle": 1, "blocksize": 0}
    store = scratch_store("sce_zarr_col", sf_dir)
    write_zarr_group(e, store, V2(blosc), cols_per_chunk=(e_dim + 1) // 2)
    return read_group_coo(spark, store)


@query(
    "zarr_consolidated_roundtrip",
    oracle=COO_ORACLE,
    tags=("sources", "zarr", "consolidated"),
    cache=False,
)
def zarr_consolidated_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consolidated-metadata end-to-end: embeddings → Zarr v2 group write
    → ``consolidate_metadata`` (zarr-python's ``.zmetadata`` format) →
    BOTH arrays planned exclusively from the consolidated document →
    row-index join → COO, hash-equal to the same oracle as
    ``zarr_roundtrip``.  The open path every cloud AnnData store wants:
    one metadata GET for the whole group instead of one per member array
    (exclusivity — the member ``.zarray`` never being read — is pinned in
    tests by deleting the sidecars from a consolidated copy and reading it
    anyway).
    """
    store = scratch_store("sce_zarr_consol", sf_dir)
    write_zarr_group(load_table(spark, sf_dir, "embeddings"), store, V2())
    consolidate_metadata(store)
    x = read_zarr_matrix_consolidated(spark, store, "X")
    ids = read_zarr_vector_consolidated(spark, store, "vec_id")
    return zarr_matrix_coo(x, ids.withColumnRenamed("value", "vec_id"))


_ZARR_OBS_STRING_ORACLE = """
SELECT vec_id,
       'cell_type_' || CAST(vec_id % 5 AS VARCHAR) AS ct,
       CAST(label AS BIGINT) AS lbl
FROM embeddings
"""


@query(
    "zarr_obs_string_roundtrip",
    oracle=_ZARR_OBS_STRING_ORACLE,
    tags=("sources", "zarr", "api", "categorical"),
    cache=False,
)
def zarr_obs_string_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/categorical obs annotations through the v2 group end to end
    (r13 verdict #4 — real AnnData obs is mostly categorical): wrap
    embeddings as an ``AnnFrame`` whose obs carries a derived 5-level
    string cell-type column beside a numeric one, ``to_zarr`` (the string
    column lands as a fixed-width ``|S<n>`` 1-D array — the spec dtype
    for strings without filter codecs; width measured from the data),
    ``from_zarr`` the group back, and hash-compare BOTH recovered obs
    columns against the oracle's direct derivation.  Pins the |S width
    sizing, UTF-8 encode/null-pad/strip symmetry, chunk-grid placement,
    and the StringType plumbing through the consolidated-or-not vector
    reader.
    """
    from ..api import AnnFrame

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "embedding",
        F.concat(F.lit("cell_type_"), (F.col("vec_id") % 5).cast("string")).alias(
            "ct"
        ),
        F.col("label").cast("bigint").alias("lbl"),
    )
    store = scratch_store("sce_zarr_obsstr", sf_dir)
    AnnFrame.from_table(e).to_zarr(store)
    # consolidate so the read-back plans the |S arrays from .zmetadata —
    # the string dtype through the one-GET path, not just the sidecars
    consolidate_metadata(store)
    back = AnnFrame.from_zarr(spark, store)
    return back.obs.select(
        F.col("row_id").alias("vec_id"), "ct", F.col("lbl").cast("bigint").alias("lbl")
    )


@query(
    "zarr_obsm_roundtrip",
    oracle=OBSM_ORACLE,
    tags=("sources", "zarr", "api", "obsm"),
    cache=False,
)
def zarr_obsm_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AnnData ``obsm`` + ``uns`` through the v2 group end to end (r14
    verdict #1 — the write→compute→write cycle): wrap embeddings as an
    ``AnnFrame``, annotate a computed 2-D per-cell matrix (a
    deterministic linear projection, the ``obsm['X_umap']`` slot) via
    ``with_obsm`` and a ``uns['neighbors']`` metadata dict via
    ``with_uns``, ``to_zarr`` (the member lands as a 2-D float64
    ``obsm_X_umap`` array — DERIVED doubles store at compute precision,
    so the cycle is bit-exact — and uns as the group ``.zattrs``),
    consolidate, ``from_zarr``, and emit the recovered obsm COO with the
    recovered uns parameter as a hashed column.  Pins the distributed
    obsm chunk write, the float64 read-back, member discovery through
    consolidated metadata, and the attrs JSON round-trip."""
    from ..api import AnnFrame

    e = load_table(spark, sf_dir, "embeddings")
    store = scratch_store("sce_zarr_obsm", sf_dir)
    af = (
        AnnFrame.from_table(e)
        .with_obsm("X_umap", obsm_projection(e))
        .with_uns("neighbors", {"k": 4, "method": "exact"})
    )
    af.to_zarr(store)
    consolidate_metadata(store)
    back = AnnFrame.from_zarr(spark, store)
    uns_k = int(back.uns["neighbors"]["k"])
    m = back.obsm["X_umap"]
    return m.select(
        F.col("row_id").alias("vec_id"), F.posexplode("values").alias("p0", "v")
    ).select(
        "vec_id",
        (F.col("p0") + 1).cast("int").alias("pos"),
        F.col("v").alias("v"),
        F.lit(uns_k).cast("int").alias("uns_k"),
    )


_ZARR_VARM_ORACLE = """
SELECT pos, k, v
FROM (
  SELECT pos,
         1 AS k,
         round(sum(vfix) / 1e6, 6) AS v
  FROM (
    SELECT vec_id,
           CAST(generate_subscripts(embedding, 1) AS BIGINT) - 1 AS pos,
           CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS vfix
    FROM embeddings
  )
  GROUP BY pos
  UNION ALL
  SELECT pos,
         2 AS k,
         round(sum((vec_id % 7 + 1) * vfix) / 1e6, 6) AS v
  FROM (
    SELECT vec_id,
           CAST(generate_subscripts(embedding, 1) AS BIGINT) - 1 AS pos,
           CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS vfix
    FROM embeddings
  )
  GROUP BY pos
)
"""


@query(
    "zarr_varm_roundtrip",
    oracle=_ZARR_VARM_ORACLE,
    tags=("sources", "zarr", "api", "varm"),
    cache=False,
)
def zarr_varm_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AnnData ``varm`` through the v2 group end to end (r15: the
    loadings side of the component set — Scanpy persists PCA loadings as
    ``varm['PCs']``, genes × k).  Computes a per-GENE 2-column matrix in
    exact integer fixed-point (column 1: the gene's value sum; column 2:
    a ``vec_id%7+1``-weighted sum — integer arithmetic, so the doubles
    that land in the member are bit-identical cross-engine), annotates it
    via ``with_varm``, ``to_zarr`` (lands as a 2-D float64 ``varm_PCs``
    array through the same distributed chunk writer as obsm, rows = gene
    positions), consolidates, ``from_zarr``, and emits the recovered varm
    COO.  Pins the gene-axis member write, position-keyed reassembly
    (no vec_id spine), and discovery via consolidated metadata."""
    from ..api import AnnFrame

    e = load_table(spark, sf_dir, "embeddings")
    fixed = e.select(
        "vec_id", F.posexplode("embedding").alias("p0", "v32")
    ).select(
        "vec_id",
        F.col("p0").cast("bigint").alias("pos"),
        F.round(F.col("v32").cast("double") * 1e6).cast("bigint").alias("vfix"),
    )
    loadings = (
        fixed.groupBy("pos")
        .agg(
            F.round(F.sum("vfix") / 1e6, 6).alias("c1"),
            F.round(
                F.sum((F.col("vec_id") % 7 + 1) * F.col("vfix")) / 1e6, 6
            ).alias("c2"),
        )
        .select("pos", F.array("c1", "c2").alias("values"))
    )
    store = scratch_store("sce_zarr_varm", sf_dir)
    af = AnnFrame.from_table(e).with_varm("PCs", loadings)
    af.to_zarr(store)
    consolidate_metadata(store)
    back = AnnFrame.from_zarr(spark, store)
    m = back.varm["PCs"]
    return m.select(
        F.col("pos").cast("bigint").alias("pos"),
        F.posexplode("values").alias("p0", "v"),
    ).select("pos", (F.col("p0") + 1).cast("int").alias("k"), "v")


_ZARR_OBSP_ORACLE = """
WITH n AS (SELECT count(*) AS n FROM embeddings),
     e AS (SELECT vec_id, embedding FROM embeddings),
     edges AS (
       SELECT a.vec_id AS row_id,
              b.vec_id AS col,
              round(list_aggregate(list_transform(range(1, len(a.embedding) + 1),
                  i -> CAST(round(CAST(a.embedding[i] AS DOUBLE) * 1e3) AS BIGINT)
                     * CAST(round(CAST(b.embedding[i] AS DOUBLE) * 1e3) AS BIGINT)),
                  'sum') / 1e6, 6) AS v
       FROM e a
       JOIN n ON TRUE
       JOIN e b ON b.vec_id = (a.vec_id + 1) % n.n OR b.vec_id = (a.vec_id + 3) % n.n
       WHERE b.vec_id <> a.vec_id
     )
SELECT row_id, col, v, 2 AS uns_k FROM edges
"""


@query(
    "zarr_obsp_roundtrip",
    oracle=_ZARR_OBSP_ORACLE,
    tags=("sources", "zarr", "api", "obsp", "sparse"),
    cache=False,
)
def zarr_obsp_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AnnData ``obsp`` through the v2 group end to end (r15: the
    pairwise component — Scanpy stores the neighbor graph as
    ``obsp['distances']``, a SPARSE cells×cells CSR matrix).  Builds a
    deterministic sparse affinity graph (each cell linked to its
    ``(id+1)%n`` and ``(id+3)%n`` ring neighbors — two linear equi-joins,
    never an all-pairs — weighted by the milli-quantized integer dot
    product, so the stored doubles are bit-identical cross-engine),
    annotates via ``with_obsp`` + a ``uns['neighbors']`` dict,
    ``to_zarr`` (the member lands as an ``obsp_distances`` csr_matrix
    subgroup: indptr/indices/data, bytes ~ nnz = 2n, never n²),
    consolidates, ``from_zarr`` (discovery keys on the encoding tag in
    the consolidated document), and emits the recovered COO.  Pins the
    CSR obsp write, the extent-join decode, and the attrs round-trip."""
    from ..api import AnnFrame

    e = load_table(spark, sf_dir, "embeddings")
    n = e.count()
    q = e.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda v: F.round(v.cast("double") * 1e3).cast("bigint"),
        ).alias("qe"),
    )
    src = q.select(
        F.col("vec_id").alias("row_id"),
        F.col("qe").alias("ea"),
        F.explode(
            F.array(
                (F.col("vec_id") + 1) % F.lit(n),
                (F.col("vec_id") + 3) % F.lit(n),
            )
        ).alias("col"),
    ).where(F.col("col") != F.col("row_id"))
    edges = (
        src.join(q.select(F.col("vec_id").alias("col"), F.col("qe").alias("eb")), "col")
        .select(
            "row_id",
            "col",
            F.round(
                F.aggregate(
                    F.zip_with("ea", "eb", lambda a, b: a * b),
                    F.lit(0).cast("bigint"),
                    lambda acc, x: acc + x,
                )
                / 1e6,
                6,
            ).alias("v"),
        )
    )
    store = scratch_store("sce_zarr_obsp", sf_dir)
    af = (
        AnnFrame.from_table(e)
        .with_obsp("distances", edges)
        .with_uns("neighbors", {"k": 2, "method": "ring"})
    )
    af.to_zarr(store)
    consolidate_metadata(store)
    back = AnnFrame.from_zarr(spark, store)
    uns_k = int(back.uns["neighbors"]["k"])
    return back.obsp["distances"].select(
        "row_id",
        "col",
        "v",
        F.lit(uns_k).cast("int").alias("uns_k"),
    )


_ZARR_RAW_ORACLE = """
SELECT vec_id, pos, v, 'g' || CAST(pos AS VARCHAR) AS gname, 8 AS x_width
FROM (
  SELECT vec_id,
         CAST(generate_subscripts(embedding, 1) AS BIGINT) AS pos,
         round(CAST(unnest(embedding) AS DOUBLE), 6) AS v
  FROM embeddings
)
"""


@query(
    "zarr_raw_roundtrip",
    oracle=_ZARR_RAW_ORACLE,
    tags=("sources", "zarr", "api", "raw"),
    cache=False,
)
def zarr_raw_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AnnData ``.raw`` through the v2 group end to end (r15 — the last
    schema component): mirror the Scanpy recipe flow ``adata.raw = adata``
    → subset to HVGs — snapshot the FULL 64-gene matrix (with a per-gene
    string name column in raw.var) via ``with_raw``, subset the main X to
    its first 8 genes, ``to_zarr`` (raw lands as a full-width float64
    ``raw_X`` member + driver-side ``raw_var_*`` arrays beside the
    narrow main X), consolidate, ``from_zarr``, and emit the recovered
    raw COO joined to its recovered gene names, with the recovered main
    X width as a pinned column.  Pins that subsetting does NOT lose the
    pre-subset matrix — the exact fidelity AnnData's .raw exists for."""
    from ..api import AnnFrame

    e = load_table(spark, sf_dir, "embeddings")
    full = AnnFrame.from_table(e)
    raw_var = (
        full.x.select(F.explode(F.sequence(F.lit(1), F.size("values"))).alias("pos"))
        .distinct()
        .select("pos", F.concat(F.lit("g"), F.col("pos").cast("string")).alias("gname"))
    )
    raw = AnnFrame(
        full.x.select(
            "row_id",
            F.transform("values", lambda v: F.round(v, 6)).alias("values"),
        ),
        None,
        raw_var,
    )
    main = AnnFrame(
        full.x.select("row_id", F.slice("values", 1, 8).alias("values"))
    ).with_raw(raw)
    store = scratch_store("sce_zarr_raw", sf_dir)
    main.to_zarr(store)
    consolidate_metadata(store)
    back = AnnFrame.from_zarr(spark, store)
    x_width = int(back.x.agg(F.max(F.size("values"))).collect()[0][0])
    coo = back.raw.x.select(
        F.col("row_id").alias("vec_id"),
        F.posexplode("values").alias("p0", "v"),
    ).select("vec_id", (F.col("p0") + 1).cast("bigint").alias("pos"), "v")
    return coo.join(back.raw.var.withColumnRenamed("pos", "vpos"),
                    coo.pos == F.col("vpos"), "inner").select(
        "vec_id",
        "pos",
        "v",
        "gname",
        F.lit(x_width).cast("int").alias("x_width"),
    )


@query(
    "zarr_append_roundtrip",
    oracle=COO_ORACLE,
    tags=("sources", "zarr", "append"),
    cache=False,
)
def zarr_append_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grow-in-place end to end: write the FIRST half of the matrix as a
    normal group, ``append_zarr_rows`` the second half (the split is
    off the chunk grid on purpose — the boundary chunk really merges old
    and new rows through read-decompress-overlay-recompress), read the
    grown store back, and hash against the SAME full-table oracle as
    ``zarr_roundtrip`` — proving append ≡ whole-write byte-for-byte at
    the COO level.  Only ceil(m/chunk)+1 objects are touched; history
    chunks are never rewritten."""
    e = load_table(spark, sf_dir, "embeddings")
    half = e.count() // 2
    store = scratch_store("sce_zarr_append", sf_dir)
    write_zarr_group(e.where(F.col("vec_id") < half), store, V2())
    append_zarr_rows(e.where(F.col("vec_id") >= half), store)
    return read_group_coo(spark, store)
