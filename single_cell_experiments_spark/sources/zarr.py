"""One Zarr IO layer over both format generations (SURVEY.md §2.A A1
``zarr read``, A2 ``zarr write``; ref ``zarr_spark.py`` [M] reads and
writes real Zarr arrays).

The format decision sits behind ``ZarrFormat``.  Its two implementations,
``zarrv2.V2`` and ``zarrv3.V3``, hold only what differs between the
generations: the metadata documents, chunk keys, the codecs, the layout of
the consolidated document and where group attributes live.  A format value
also carries the write-side encoding it describes (v2 ``compressor``; v3
``codecs`` / ``keyenc`` / ``shard_inner_rows``).  Everything else exists
once, here:

- the format sniff (``format_of``) and the ``zarr_format`` option lookup
  (``format_for``);
- one mapInPandas decode closure (``decode_blocks``) and one ``binaryFile``
  read plan (``plan_zarr_read``) behind ``read_zarr_matrix`` /
  ``read_zarr_vector``, which take the format from the store;
- one chunk-aligned write pass (``write_row_chunks``) under the group
  writer (``write_zarr_group``), the ``obsm`` writer
  (``write_zarr_obsm_member``) and the in-place row append;
- one consolidation driver (``consolidate_metadata``) and the consolidated
  readers.

Spark-first mapping:

- **write**: ``groupBy(chunk row) ⟶ applyInPandas`` — the groupBy exchange
  IS the chunk-aligned repartition; each task scatters its rows into padded
  blocks and writes every array's chunk objects.  The driver writes only
  the small metadata documents.
- **read**: one driver-side metadata GET, then ``binaryFile`` lists the
  chunk objects across tasks and ``mapInPandas`` decodes each block
  columnar-side, trimming edge padding via the array shape.

Positional semantics: Zarr addresses by row index, so the writers require
dense 0..n-1 ids (true for the ``embeddings`` table and the reference's
AnnData matrices, whose obs axis is positional): the id range and count
are checked in the aggregate that sizes the arrays, repeated ids in the
write pass itself.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

ROWS_PER_CHUNK = 64

#: Spark column types stored as int64 (everything else numeric is float64)
INT_TYPES = ("bigint", "int", "smallint", "tinyint", "long")


class ZarrFormat:
    """What differs between Zarr generations.

    ``meta`` below is validated array metadata as ``read_meta`` returns it:
    at least ``shape``, ``chunks``, ``dtype`` (anything ``np.dtype``
    accepts) and ``fill_value``, plus the format's codec fields.  Chunk
    operations take it, not the format value, so a store is read and grown
    with its own encoding."""

    VERSION: int
    #: files whose presence makes a directory a node of this format
    NODE_FILES: tuple[str, ...]
    #: the per-array metadata document
    ARRAY_META: str

    # -- metadata -------------------------------------------------------------

    def validate_meta(self, doc: dict, where: str) -> dict:
        """Check an array document against what this reader implements
        (raising NAMING the unsupported construct) and normalize it."""
        raise NotImplementedError

    def document(self, shape, chunks, dtype: np.dtype, fill) -> dict:
        """The array metadata document this format value writes."""
        raise NotImplementedError

    def write_group_meta(self, path: str) -> None:
        raise NotImplementedError

    def column_dtype(self, spark_type: str, width: int) -> tuple[np.dtype, object]:
        """(dtype, fill) storing an obs/var column of ``spark_type``;
        ``width`` is the longest UTF-8 value of a string column."""
        if spark_type == "string":
            raise NotImplementedError(
                f"zarr v{self.VERSION} has no fixed-width string dtype here"
            )
        return (np.dtype("<i8"), 0) if spark_type in INT_TYPES else (np.dtype("<f8"), 0)

    def holds(self, path: str) -> bool:
        return any(os.path.exists(os.path.join(path, f)) for f in self.NODE_FILES)

    def read_doc(self, array_path: str) -> dict:
        """One driver-side GET of the array document."""
        with open(os.path.join(array_path, self.ARRAY_META)) as f:
            return json.load(f)

    def read_meta(self, array_path: str) -> dict:
        return self.validate_meta(self.read_doc(array_path), array_path)

    def write_doc(self, array_path: str, doc: dict) -> None:
        os.makedirs(array_path, exist_ok=True)
        with open(os.path.join(array_path, self.ARRAY_META), "w") as f:
            json.dump(doc, f)

    def array_meta(self, shape, chunks, dtype: np.dtype, fill, **extra) -> dict:
        """Validated metadata of an array this format value would write."""
        return self.validate_meta(self.document(shape, chunks, dtype, fill, **extra), "")

    def write_array_meta(self, path: str, shape, chunks, dtype: np.dtype, fill, **extra) -> dict:
        doc = self.document(shape, chunks, dtype, fill, **extra)
        self.write_doc(path, doc)
        return self.validate_meta(doc, path)

    # -- chunk keys -----------------------------------------------------------

    def chunk_key(self, meta: dict, coords: tuple[int, ...]) -> str:
        """Chunk grid coords -> object key relative to the array."""
        raise NotImplementedError

    def chunk_coords(self, meta: dict, array_path: str, file_path: str) -> tuple[int, ...]:
        """Object path -> chunk grid coords; ``ValueError`` if not a chunk."""
        raise NotImplementedError

    def chunk_files(self, spark: SparkSession, array_path: str) -> DataFrame:
        """``binaryFile`` (path, content) listing of the array's chunk objects."""
        raise NotImplementedError

    # -- codecs ---------------------------------------------------------------

    def encode_chunk(self, meta: dict, block: np.ndarray, valid_rows: int | None) -> bytes:
        """Full chunk block -> object bytes; rows from ``valid_rows`` on
        are edge padding (``None``: none are)."""
        raise NotImplementedError

    def decode_chunk(self, meta: dict, blob: bytes) -> np.ndarray:
        """Object bytes -> the full chunk-shaped block."""
        raise NotImplementedError

    def write_chunk(self, array_path, meta, coords, block, valid_rows=None) -> None:
        full = os.path.join(array_path, self.chunk_key(meta, coords))
        os.makedirs(os.path.dirname(full), exist_ok=True)
        with open(full, "wb") as f:
            f.write(self.encode_chunk(meta, block, valid_rows))

    def read_chunk(self, array_path: str, meta: dict, coords) -> np.ndarray:
        with open(os.path.join(array_path, self.chunk_key(meta, coords)), "rb") as f:
            return self.decode_chunk(meta, f.read())

    # -- group attributes and consolidated metadata ---------------------------

    def write_group_attrs(self, group_path: str, attrs: dict) -> None:
        raise NotImplementedError

    def read_group_attrs(self, group_path: str) -> dict:
        raise NotImplementedError

    def read_consolidated(self, group_path: str) -> dict:
        """The group's consolidated {member key: document} map."""
        raise NotImplementedError

    def consolidated_key(self, rel_dir: str, fname: str) -> str | None:
        """Key the document ``fname`` of the node at ``rel_dir`` (relative to
        the group, ``"."`` for the root) gets in the consolidated map;
        ``None`` if it is not consolidated."""
        raise NotImplementedError

    def consolidated_document(self, group_path: str, metadata: dict) -> tuple[str, dict]:
        """(root file name, document) carrying the consolidated map."""
        raise NotImplementedError


def _formats() -> tuple[ZarrFormat, ...]:
    from .zarrv2 import V2
    from .zarrv3 import V3

    return V2(), V3()


def format_of(path: str) -> ZarrFormat:
    """The format of the Zarr node (array or group) at ``path``, from the
    metadata document it holds — one driver-side stat per format."""
    for fmt in _formats():
        if fmt.holds(path):
            return fmt
    raise FileNotFoundError(
        f"{path!r} holds neither a Zarr v2 (.zarray/.zgroup/.zattrs) nor a v3 (zarr.json)"
        " metadata document"
    )


def format_for(version) -> ZarrFormat:
    """Default-configured format value for a ``zarr_format`` option value."""
    by_version = {fmt.VERSION: fmt for fmt in _formats()}
    try:
        return by_version[int(version)]
    except (KeyError, ValueError):
        raise ValueError(f"sce_zarr: zarr_format must be 2 or 3, got {version}") from None


# --- read ----------------------------------------------------------------------

_INT_KINDS = "iub"

_MATRIX_SCHEMA = StructType(
    [
        StructField("row", LongType()),
        StructField("col0", LongType()),
        StructField("values", ArrayType(DoubleType())),
    ]
)


def value_schema(meta: dict) -> StructType:
    """Read schema of an array: 2-D arrays surface as ``(row, col0, values:
    array<double>)`` chunk-slice rows, 1-D arrays as ``(row, value)`` with
    ``value`` bigint (integer/bool), string (fixed-width bytes) or double."""
    if len(meta["shape"]) == 2:
        return _MATRIX_SCHEMA
    kind = np.dtype(meta["dtype"]).kind
    vtype: DataType = (
        LongType() if kind in _INT_KINDS else StringType() if kind == "S" else DoubleType()
    )
    return StructType([StructField("row", LongType()), StructField("value", vtype)])


def decode_blocks(fmt: ZarrFormat, array_path: str, meta: dict):
    """The mapInPandas decode closure over driver-parsed array metadata.

    For each (path, content) chunk object: decode through the format's
    codecs to the full chunk block, then trim edge padding via the array
    shape.  2-D arrays yield one slice per (row, column chunk) starting at
    global column ``col0``; 1-D arrays yield (row, value)."""
    shape, chunks = meta["shape"], meta["chunks"]
    kind = np.dtype(meta["dtype"]).kind

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for fpath, content in zip(pdf["path"], pdf["content"]):
                coords = fmt.chunk_coords(meta, array_path, fpath)
                block = fmt.decode_chunk(meta, bytes(content))
                row0 = coords[0] * chunks[0]
                valid = min(chunks[0], shape[0] - row0)
                rows = np.arange(row0, row0 + valid, dtype=np.int64)
                if len(shape) == 2:
                    col0 = coords[1] * chunks[1] if len(coords) > 1 else 0
                    vcols = min(chunks[1], shape[1] - col0)
                    yield pd.DataFrame(
                        {
                            "row": rows,
                            "col0": np.full(valid, col0, dtype=np.int64),
                            "values": list(block[:valid, :vcols].astype(np.float64)),
                        }
                    )
                elif kind == "S":
                    # fixed-width bytes: numpy strips the trailing null
                    # padding on item access; decode UTF-8
                    yield pd.DataFrame(
                        {"row": rows, "value": [b.decode("utf-8") for b in block[:valid]]}
                    )
                else:
                    out = np.int64 if kind in _INT_KINDS else np.float64
                    yield pd.DataFrame({"row": rows, "value": block[:valid].astype(out)})

    return _decode


def plan_zarr_read(
    spark: SparkSession, fmt: ZarrFormat, array_path: str, meta: dict, ndim: int
) -> DataFrame:
    """The read plan: chunk objects listed by ``binaryFile`` (the listing
    splits across tasks) and decoded executor-side by ``decode_blocks``."""
    if len(meta["shape"]) != ndim:
        raise ValueError(
            f"expected a {ndim}-D zarr array at {array_path}, got shape {meta['shape']}"
        )
    return fmt.chunk_files(spark, array_path).mapInPandas(
        decode_blocks(fmt, array_path, meta), schema=value_schema(meta)
    )


def read_zarr_matrix(spark: SparkSession, array_path: str) -> DataFrame:
    """2-D Zarr array (either format) -> (row, col0, values: array<double>)
    slice rows.  Each output row is one chunk's slice of one matrix row
    starting at global column ``col0`` (always 0 for row-chunked layouts —
    exactly one slice per row).  For a column-chunked grid, callers
    reassemble with a group on ``row`` ordering slices by ``col0``, or — for
    COO consumers — offset positions by ``col0`` directly (``zarr_matrix_coo``)."""
    fmt = format_of(array_path)
    return plan_zarr_read(spark, fmt, array_path, fmt.read_meta(array_path), 2)


def read_zarr_vector(spark: SparkSession, array_path: str) -> DataFrame:
    """1-D Zarr array (either format) -> (row: bigint, value) rows."""
    fmt = format_of(array_path)
    return plan_zarr_read(spark, fmt, array_path, fmt.read_meta(array_path), 1)


def zarr_matrix_coo(x: DataFrame, ids: DataFrame) -> DataFrame:
    """(row, col0, values) slices + (row, vec_id) index -> COO
    (vec_id, pos, v) with 1-based global positions — layout-agnostic:
    row-chunked arrays contribute one slice per row (col0=0), column-
    chunked grids one slice per (row, col chunk), offset by ``col0``."""
    return (
        x.join(ids, "row")
        .select("vec_id", "col0", F.posexplode("values").alias("pos0", "vd"))
        .select(
            "vec_id",
            (F.col("col0") + F.col("pos0") + 1).alias("pos"),
            F.round(F.col("vd"), 6).alias("v"),
        )
    )


# --- shared by the registered roundtrip queries ----------------------------------

#: The embeddings matrix as (vec_id, pos, v) COO: every store written from
#: ``embeddings`` must read back to exactly this.
COO_ORACLE = """
SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
       round(CAST(unnest(embedding) AS DOUBLE), 6) AS v
FROM embeddings
"""

#: ``obsm_projection`` as COO, with the ``uns['neighbors']['k']`` the obsm
#: roundtrips store beside it.
OBSM_ORACLE = """
SELECT vec_id, pos, v, 4 AS uns_k
FROM (
  SELECT vec_id, 1 AS pos,
         round(CAST(embedding[1] AS DOUBLE) - CAST(embedding[2] AS DOUBLE), 6) AS v
  FROM embeddings
  UNION ALL
  SELECT vec_id, 2 AS pos,
         round(CAST(embedding[3] AS DOUBLE) + 2 * CAST(embedding[4] AS DOUBLE), 6) AS v
  FROM embeddings
)
"""


def obsm_projection(e: DataFrame) -> DataFrame:
    """A deterministic 2-D per-cell matrix (row_id, values) of embeddings —
    the computed ``obsm['X_umap']`` slot of the obsm roundtrips."""
    emb = lambda i: F.element_at("embedding", i).cast("double")  # noqa: E731
    return e.select(
        F.col("vec_id").alias("row_id"),
        F.array(
            F.round(emb(1) - emb(2), 6), F.round(emb(3) + F.lit(2.0) * emb(4), 6)
        ).alias("values"),
    )


def read_group_coo(spark: SparkSession, store: str) -> DataFrame:
    """A written group's ``X`` + ``vec_id`` read back as (vec_id, pos, v) COO."""
    x = read_zarr_matrix(spark, os.path.join(store, "X"))
    ids = read_zarr_vector(spark, os.path.join(store, "vec_id"))
    return zarr_matrix_coo(x, ids.withColumnRenamed("value", "vec_id"))


def scratch_store(name: str, sf_dir: str) -> str:
    """The temp-dir store a registered roundtrip writes for input ``sf_dir``."""
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return os.path.join(tempfile.gettempdir(), f"{name}_{tag}")


# --- write ---------------------------------------------------------------------


def _column_block(values: pd.Series, dtype: np.dtype, ndim: int) -> np.ndarray:
    if ndim == 2:
        return np.array(values.to_list(), dtype=dtype)
    if dtype.kind == "S":
        # NULL -> "": fixed-width bytes have no NULL sentinel
        return np.array([(s or "").encode("utf-8") for s in values], dtype=dtype)
    return values.to_numpy(dtype=dtype.newbyteorder("="))


def write_row_chunks(
    frame: DataFrame,
    id_col: str,
    arrays: list[tuple[str, str, dict]],
    fmt: ZarrFormat,
    rows_per_chunk: int,
    overlay: bool = False,
) -> int:
    """The chunk-aligned write pass under every writer.

    ``frame`` rows are keyed by a dense 0-based ``id_col``; ``arrays`` lists
    (source column, array path, array document).  Each ``applyInPandas``
    task owns one row chunk and writes every array's objects for it: 2-D
    arrays one per column chunk, edge chunks padded to the chunk shape with
    ``fill_value`` per the spec.  ``overlay=True`` starts from a chunk's
    existing object when there is one (growing a store in place).

    A row id maps to exactly one chunk, so a duplicate id can only sit
    inside one task: that task writes nothing, and the pass then fails
    with ``ValueError`` — the check costs no job beyond the pass.  The
    array documents are written LAST, after every chunk object, so a failed
    or partial pass never leaves a readable array.  Returns the number of
    row chunks written."""
    plan = [(src, apath, fmt.validate_meta(doc, apath)) for src, apath, doc in arrays]
    result_schema = StructType(
        [StructField("chunk_id", LongType()), StructField("dups", LongType())]
    )

    def _write_chunk(key, pdf: pd.DataFrame) -> pd.DataFrame:
        (chunk_id,) = key
        cid = int(chunk_id)
        offs = pdf[id_col].to_numpy(dtype=np.int64) - cid * rows_per_chunk
        dups = len(offs) - len(np.unique(offs))
        for src, apath, meta in plan if not dups else ():
            shape, chunks = meta["shape"], meta["chunks"]
            dtype = np.dtype(meta["dtype"])
            valid = min(rows_per_chunk, shape[0] - cid * rows_per_chunk)
            if len(shape) == 2:  # one object per column chunk, right edge padded
                w = chunks[1]
                block = np.zeros((rows_per_chunk, -(-shape[1] // w) * w), dtype=dtype)
                parts = {
                    (cid, c): np.s_[:, c * w : (c + 1) * w] for c in range(block.shape[1] // w)
                }
            else:
                block = np.zeros(rows_per_chunk, dtype=dtype)
                parts = {(cid,): np.s_[:]}
            if meta.get("fill_value"):
                block[...] = meta["fill_value"]
            for coords, part in parts.items():
                if overlay and os.path.exists(os.path.join(apath, fmt.chunk_key(meta, coords))):
                    block[part] = fmt.read_chunk(apath, meta, coords)
            block[(offs, np.s_[: shape[1]]) if len(shape) == 2 else offs] = _column_block(
                pdf[src], dtype, len(shape)
            )
            for coords, part in parts.items():
                fmt.write_chunk(apath, meta, coords, block[part], valid)
        return pd.DataFrame({"chunk_id": [chunk_id], "dups": [dups]})

    done = (
        frame.select(*dict.fromkeys([id_col] + [src for src, _, _ in arrays]))
        .withColumn("chunk_id", F.expr(f"{id_col} div {rows_per_chunk}"))
        .groupBy("chunk_id")
        .applyInPandas(_write_chunk, schema=result_schema)
        .agg(F.count(F.lit(1)).alias("n"), F.sum("dups").alias("dups"))
        .collect()[0]
    )
    if done["dups"]:
        raise ValueError(
            f"zarr positional write needs dense 0..n-1 ids: {done['dups']} repeated"
            f" {id_col} value(s)"
        )
    for _, apath, doc in arrays:
        fmt.write_doc(apath, doc)
    return int(done["n"])


def id_bounds(frame: DataFrame, id_col: str, *extra) -> Row:
    """One aggregate: the id range and row count (plus ``extra``
    aggregates) — what a positional write checks before its pass.  With
    the pass's own duplicate check, ``min == 0`` and ``count == max+1``
    prove the ids dense; a ``countDistinct`` here would cost one more
    shuffle stage, i.e. one more Spark job per write."""
    return frame.agg(
        F.min(id_col).alias("__mn"),
        F.max(id_col).alias("__mx"),
        F.count(F.lit(1)).alias("__n"),
        *extra,
    ).collect()[0]


def require_dense(b: Row) -> int:
    """The row count of ``id_bounds`` over ids 0..n-1, else raise."""
    n_rows = -1 if b["__mx"] is None else int(b["__mx"]) + 1
    if int(b["__n"]) != n_rows or (n_rows and b["__mn"] != 0):
        raise ValueError(
            "zarr positional write needs dense 0..n-1 ids: "
            f"min={b['__mn']}, max+1={n_rows}, rows={b['__n']}"
        )
    return n_rows


def write_zarr_group(
    wide: DataFrame,
    path: str,
    fmt: ZarrFormat,
    rows_per_chunk: int = ROWS_PER_CHUNK,
    cols_per_chunk: int | None = None,
    obs_cols: tuple[str, ...] = (),
    skip_x: bool = False,
) -> dict:
    """Write (vec_id, embedding) rows as a Zarr group of format ``fmt`` at
    ``path``: ``X`` (2-D float32, chunks ``[rows_per_chunk, cols_per_chunk
    or dim]``) + ``vec_id`` (1-D int64) + one 1-D array per ``obs_cols``
    entry (``obs_<name>``, dtype from ``fmt.column_dtype`` — the AnnData
    per-cell annotation arrays).  With ``cols_per_chunk`` set, each matrix
    row spans several chunk objects, edge chunks padded on BOTH axes.
    Returns the group metadata (shape, chunks, n_chunks).

    NULL handling: string obs values coerce NULL → ``""`` — fixed-width
    bytes have no NULL sentinel (the v3 dictionary vector reserves code -1
    for exactly this).

    ``skip_x=True`` writes everything EXCEPT the dense ``X`` array — the
    sparse-store path: ``AnnFrame.to_zarr(sparse=True)`` writes vec_id +
    obs here and the ``csr_matrix`` subgroup via ``sparse.write_zarr_csr``.
    """
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    dtypes = dict(wide.dtypes)
    # string obs widths (max UTF-8 bytes) ride in the same aggregate
    str_cols = [c for c in obs_cols if dtypes.get(c) == "string"]
    widths = [F.max(F.octet_length(c)).alias(f"__w_{c}") for c in str_cols]
    b = id_bounds(wide, "vec_id", F.max(F.size("embedding")).alias("__dim"), *widths)
    n_rows, dim = require_dense(b), int(b["__dim"])
    cpc = cols_per_chunk or dim

    def _array(name: str, src: str, shape, dtype, fill):
        chunks = [rows_per_chunk] + ([cpc] if len(shape) == 2 else [])
        return src, os.path.join(path, name), fmt.document(shape, chunks, dtype, fill)

    arrays = [] if skip_x else [_array("X", "embedding", [n_rows, dim], np.dtype("<f4"), 0.0)]
    arrays.append(_array("vec_id", "vec_id", [n_rows], np.dtype("<i8"), 0))
    for col in obs_cols:
        width = max(int(b[f"__w_{col}"] or 1), 1) if col in str_cols else 1
        dtype, fill = fmt.column_dtype(dtypes.get(col), width)
        arrays.append(_array(f"obs_{col}", col, [n_rows], dtype, fill))
    n_chunks = write_row_chunks(wide, "vec_id", arrays, fmt, rows_per_chunk)
    fmt.write_group_meta(path)
    return {
        "shape": [n_rows, dim],
        "chunks": [rows_per_chunk, cpc],
        "n_chunks": n_chunks * -(-dim // cpc),
    }


def write_zarr_obsm_member(
    values: DataFrame,
    apath: str,
    n_rows: int,
    fmt: ZarrFormat,
    rows_per_chunk: int = ROWS_PER_CHUNK,
) -> dict:
    """Write one AnnData ``obsm`` member — a computed per-cell matrix
    ``(row_id, values array<double>)`` with dense 0..n_rows-1 ids — as a
    2-D float64 array at ``apath`` (persists computed embeddings like
    ``obsm['X_pca']``/``obsm['X_umap']``; also the ``layers``, ``varm`` and
    ``raw_X`` members).

    float64 on purpose: obsm members are DERIVED doubles (PCA scores,
    layouts) — storing them at compute precision makes the
    write→read→re-use cycle bit-exact, unlike X's float32 raw counts."""
    b = id_bounds(values, "row_id", F.max(F.size("values")).alias("__dim"))
    if int(b["__n"]) != n_rows:
        raise ValueError(
            f"obsm member must carry one row per cell: expected {n_rows},"
            f" got {b['__n']} (left-join to the obs index and fill first)"
        )
    require_dense(b)
    dim = int(b["__dim"])
    doc = fmt.document([n_rows, dim], [rows_per_chunk, dim], np.dtype("<f8"), 0.0)
    n_chunks = write_row_chunks(values, "row_id", [("values", apath, doc)], fmt, rows_per_chunk)
    return {"shape": [n_rows, dim], "chunks": [rows_per_chunk, dim], "n_chunks": n_chunks}


def append_zarr_rows(wide: DataFrame, path: str) -> dict:
    """Grow an existing row-chunked group IN PLACE by appending rows: new
    chunk objects for the tail, a read-merge-rewrite of the one boundary
    chunk the old row count leaves partially filled, and a final shape bump
    in both array documents (metadata LAST — a reader racing the append
    sees the old consistent shape, never a torn one).  The batch-ETL twin
    of the streaming sink's grow-only contract: ingest day N+1 into day N's
    store without rewriting history.

    Appended ``vec_id``s must be exactly ``old_n .. old_n+m-1`` (dense,
    positional); the X layout must be row-chunked (``chunks[1] == dim``),
    and stores carrying ``obs_*`` members are refused loudly (positional
    overlay for annotation arrays is not implemented).  Returns the new
    group metadata."""
    fmt = format_of(path)
    x_path, id_path = os.path.join(path, "X"), os.path.join(path, "vec_id")
    x_doc, id_doc = fmt.read_doc(x_path), fmt.read_doc(id_path)
    xm, im = fmt.validate_meta(x_doc, x_path), fmt.validate_meta(id_doc, id_path)
    n0, dim = (int(v) for v in xm["shape"])
    rpc, cpc = (int(v) for v in xm["chunks"])
    if cpc != dim:
        raise NotImplementedError(
            f"append supports row-chunked X (chunks[1]={cpc} != dim={dim})"
        )
    if int(im["shape"][0]) != n0 or int(im["chunks"][0]) != rpc:
        raise ValueError("vec_id array disagrees with X about shape/chunking")
    obs_members = [d for d in os.listdir(path) if d.startswith("obs_")]
    if obs_members:
        raise NotImplementedError(
            f"append to stores with obs members not implemented: {obs_members}"
        )

    b = id_bounds(wide, "vec_id", F.max(F.size("embedding")).alias("__dim"))
    m = int(b["__n"])
    if m == 0:
        return {"shape": [n0, dim], "chunks": [rpc, cpc], "appended": 0}
    if b["__mn"] != n0 or b["__mx"] != n0 + m - 1:
        raise ValueError(
            f"append needs dense ids {n0}..{n0 + m - 1}, got"
            f" [{b['__mn']}, {b['__mx']}] over {m} rows"
        )
    if int(b["__dim"]) != dim:
        raise ValueError(f"dim mismatch: store {dim}, append {b['__dim']}")

    n1 = n0 + m
    grown = [
        ("embedding", x_path, dict(x_doc, shape=[n1, dim])),
        ("vec_id", id_path, dict(id_doc, shape=[n1])),
    ]
    write_row_chunks(wide, "vec_id", grown, fmt, rpc, overlay=True)
    return {"shape": [n1, dim], "chunks": [rpc, cpc], "appended": m}


# --- group attributes and consolidated metadata ----------------------------------


def read_group_attrs(group_path: str) -> dict:
    """The group's user attributes (the AnnData ``uns`` carrier; ``{}``
    when absent — attrs are optional in both specs)."""
    return format_of(group_path).read_group_attrs(group_path)


def _read_umask() -> int:
    """Read the process umask once at import, while the interpreter is
    still single-threaded: the only portable read is the set-and-restore
    idiom, and running it later would race concurrent file creation in
    other threads (files born with umask 0 inside the window)."""
    um = os.umask(0)
    os.umask(um)
    return um


_UMASK = _read_umask()


def consolidate_metadata(group_path: str) -> dict:
    """Consolidate every member metadata document of the group into one
    document at its root, in the layout zarr-python writes for the group's
    format (v2: a ``.zmetadata`` JSON keyed ``<path>/.zarray``; v3: inline
    ``consolidated_metadata`` in the root ``zarr.json`` keyed by node path)
    — so stores we consolidate open in zarr-python and vice versa.

    This is the object-store survival trait: opening an UNconsolidated
    group costs one GET per member metadata key (O(arrays) round-trips —
    real AnnData groups carry hundreds of obs/var arrays), while a
    consolidated store opens with ONE metadata GET regardless of member
    count.  Written atomically (tmp + rename) so a concurrent reader never
    sees a half-consolidated document.  Returns the written document.
    """
    fmt = format_of(group_path)
    metadata: dict[str, dict] = {}
    for root, dirs, files in os.walk(group_path):
        # Prune non-node subtrees in place: only directories that are
        # themselves zarr nodes can hold metadata documents.  Without this
        # the walk visits every nested chunk-key directory — O(total chunk
        # objects) local I/O for a metadata-only pass.
        dirs[:] = [d for d in dirs if fmt.holds(os.path.join(root, d))]
        rel = os.path.relpath(root, group_path).replace(os.sep, "/")
        for fname in files:
            key = fmt.consolidated_key(rel, fname)
            if key is not None:
                with open(os.path.join(root, fname)) as fh:
                    metadata[key] = json.load(fh)
    name, doc = fmt.consolidated_document(
        group_path, {k: metadata[k] for k in sorted(metadata)}
    )
    # mkstemp (not a fixed tmp name): two concurrent consolidations of the
    # same store must each rename a COMPLETE document into place — a shared
    # tmp path would let their writes interleave before the rename.
    fd, tmp = tempfile.mkstemp(dir=group_path, prefix=f"{name}.tmp.")
    with os.fdopen(fd, "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
    # mkstemp creates 0600; the rename would carry that over, leaving the
    # one consolidated document more restrictive than every other store
    # file written via plain open().  Re-grant the mode a plain open()
    # would have produced, so other-uid readers see consistent permissions.
    os.chmod(tmp, 0o666 & ~_UMASK)
    os.replace(tmp, os.path.join(group_path, name))
    return doc


def consolidated_array_meta(
    fmt: ZarrFormat, group_path: str, array: str, md: dict | None = None
) -> dict:
    """Validated metadata of member ``array`` from the group's consolidated
    map ``md`` (read from the group when not given) — same validator,
    same refusals as the per-array document."""
    md = fmt.read_consolidated(group_path) if md is None else md
    key = fmt.consolidated_key(array, fmt.ARRAY_META)
    if key not in md:
        raise KeyError(f"array {array!r} not in consolidated metadata ({group_path})")
    return fmt.validate_meta(md[key], f"{group_path}:{key}")


def read_zarr_matrix_consolidated(
    spark: SparkSession, group_path: str, array: str = "X"
) -> DataFrame:
    """``read_zarr_matrix`` planned from the group's consolidated metadata —
    the member's own document is never opened; chunk objects are still
    listed and decoded executor-side."""
    fmt = format_of(group_path)
    meta = consolidated_array_meta(fmt, group_path, array)
    return plan_zarr_read(spark, fmt, os.path.join(group_path, array), meta, 2)


def read_zarr_vector_consolidated(
    spark: SparkSession, group_path: str, array: str
) -> DataFrame:
    """``read_zarr_vector`` planned from the group's consolidated metadata."""
    fmt = format_of(group_path)
    meta = consolidated_array_meta(fmt, group_path, array)
    return plan_zarr_read(spark, fmt, os.path.join(group_path, array), meta, 1)
