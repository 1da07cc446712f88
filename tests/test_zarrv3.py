"""Zarr v3 read path against HAND-BUILT spec fixtures (the minih5/blosc
pattern: byte-level fixtures written from the public zarr-specs v3.0
document, independent of our own writer, anchored by published test
vectors), plus writer↔reader roundtrips and unsupported-construct guards.
The consolidated-metadata tests run over both formats in ``test_zarr.py``.
"""

from __future__ import annotations

import gzip
import json
import os
import struct

import numpy as np
import pytest

from single_cell_experiments_spark.sources.zarr import (
    read_zarr_matrix,
    read_zarr_vector,
    write_zarr_group,
)
from single_cell_experiments_spark.sources.zarrv3 import V3, crc32c

read_zarr_v3_meta = V3().read_meta


# --- crc32c: published vectors -------------------------------------------------


def test_crc32c_published_vectors():
    """RFC 3720 §B.4 / Castagnoli reference vectors — anchors the
    table-driven implementation independently of any fixture below."""
    assert crc32c(b"123456789") == 0xE3069283  # the universal CRC check value
    assert crc32c(b"") == 0x00000000
    assert crc32c(b"\x00" * 32) == 0x8A9136AA  # iSCSI "all zeros" vector
    assert crc32c(b"\xff" * 32) == 0x62A8AB43  # iSCSI "all ones" vector


# --- hand-built fixtures ---------------------------------------------------------


def _meta(shape, chunks, data_type, codecs, keyenc, fill=0):
    return {
        "zarr_format": 3,
        "node_type": "array",
        "shape": shape,
        "data_type": data_type,
        "chunk_grid": {"name": "regular", "configuration": {"chunk_shape": chunks}},
        "chunk_key_encoding": keyenc,
        "fill_value": fill,
        "codecs": codecs,
    }


def _write(root, name, payload: bytes):
    full = os.path.join(root, name)
    os.makedirs(os.path.dirname(full), exist_ok=True)
    with open(full, "wb") as f:
        f.write(payload)


def test_1d_bigendian_gzip_v2keys_handbuilt(spark, tmp_path):
    """1-D int64 array, shape [5] chunks [2] (edge chunk padded), BIG
    endian bytes codec, gzip tail, v2-style dot chunk keys — every byte
    below is written from the spec, not by our writer."""
    root = str(tmp_path / "arr1d")
    os.makedirs(root)
    keyenc = {"name": "v2", "configuration": {"separator": "."}}
    codecs = [
        {"name": "bytes", "configuration": {"endian": "big"}},
        {"name": "gzip", "configuration": {"level": 5}},
    ]
    with open(os.path.join(root, "zarr.json"), "w") as f:
        json.dump(_meta([5], [2], "int64", codecs, keyenc), f)
    # chunk 0: [10, 11]; chunk 1: [12, 13]; chunk 2: [14, <pad 0>]
    for i, pair in enumerate([(10, 11), (12, 13), (14, 0)]):
        _write(root, str(i), gzip.compress(struct.pack(">2q", *pair), 5))
    got = {
        r.row: r.value for r in read_zarr_vector(spark, root).collect()
    }
    assert got == {0: 10, 1: 11, 2: 12, 3: 13, 4: 14}  # pad trimmed


def test_2d_float32_crc32c_default_keys_handbuilt(spark, tmp_path):
    """2-D float32 shape [3, 2] chunks [2, 2], little endian, crc32c
    tail, default nested ``c/r/c`` keys — checksum computed by hand from
    the RFC algorithm the vectors above anchor."""
    root = str(tmp_path / "arr2d")
    os.makedirs(root)
    keyenc = {"name": "default", "configuration": {"separator": "/"}}
    codecs = [
        {"name": "bytes", "configuration": {"endian": "little"}},
        {"name": "crc32c"},
    ]
    with open(os.path.join(root, "zarr.json"), "w") as f:
        json.dump(_meta([3, 2], [2, 2], "float32", codecs, keyenc, fill=0.0), f)
    c00 = struct.pack("<4f", 1.5, 2.5, 3.5, 4.5)  # rows 0-1
    c10 = struct.pack("<4f", 5.5, 6.5, 0.0, 0.0)  # row 2 + padding row
    _write(root, "c/0/0", c00 + crc32c(c00).to_bytes(4, "little"))
    _write(root, "c/1/0", c10 + crc32c(c10).to_bytes(4, "little"))
    rows = {
        r.row: list(r.values)
        for r in read_zarr_matrix(spark, root).collect()
    }
    assert rows == {0: [1.5, 2.5], 1: [3.5, 4.5], 2: [5.5, 6.5]}


def test_corrupted_crc32c_rejected(spark, tmp_path):
    root = str(tmp_path / "bad")
    os.makedirs(root)
    codecs = [{"name": "bytes", "configuration": {"endian": "little"}}, {"name": "crc32c"}]
    with open(os.path.join(root, "zarr.json"), "w") as f:
        json.dump(
            _meta([2], [2], "int32", codecs, {"name": "default", "configuration": {"separator": "/"}}),
            f,
        )
    payload = struct.pack("<2i", 7, 8)
    bad = (crc32c(payload) ^ 1).to_bytes(4, "little")
    _write(root, "c/0", payload + bad)
    with pytest.raises(Exception, match="crc32c mismatch"):
        read_zarr_vector(spark, root).collect()


def test_unsupported_constructs_named(tmp_path):
    """The module contract: raise NAMING the construct, never
    garbage-decode."""
    root = str(tmp_path / "guards")
    os.makedirs(root)

    def put(meta):
        with open(os.path.join(root, "zarr.json"), "w") as f:
            json.dump(meta, f)

    keyenc = {"name": "default", "configuration": {"separator": "/"}}
    bytes_c = [{"name": "bytes", "configuration": {"endian": "little"}}]
    put(_meta([2], [2], "complex64", bytes_c, keyenc))
    with pytest.raises(NotImplementedError, match="complex64"):
        read_zarr_v3_meta(root)
    put(_meta([2], [2], "int32", bytes_c + [{"name": "sharding_indexed"}], keyenc))
    with pytest.raises(NotImplementedError, match="sharding_indexed"):
        read_zarr_v3_meta(root)
    put(
        _meta(
            [2, 2],
            [2, 2],
            "int32",
            [{"name": "transpose", "configuration": {"order": [1, 0]}}] + bytes_c,
            keyenc,
        )
    )
    with pytest.raises(NotImplementedError, match="transpose"):
        read_zarr_v3_meta(root)
    put(_meta([2], [2], "int32", bytes_c, {"name": "morton"}))
    with pytest.raises(NotImplementedError, match="morton"):
        read_zarr_v3_meta(root)
    # exactly one bytes codec is a hard spec requirement
    put(_meta([2], [2], "int32", [], keyenc))
    with pytest.raises(ValueError, match="exactly one 'bytes'"):
        read_zarr_v3_meta(root)


def test_identity_transpose_and_nan_fill_accepted(tmp_path, spark):
    """zarr-python writes an identity transpose for C-order arrays and
    string fill values for float NaN — both must parse."""
    root = str(tmp_path / "ok")
    os.makedirs(root)
    keyenc = {"name": "default", "configuration": {"separator": "/"}}
    codecs = [
        {"name": "transpose", "configuration": {"order": [0]}},
        {"name": "bytes", "configuration": {"endian": "little"}},
    ]
    with open(os.path.join(root, "zarr.json"), "w") as f:
        json.dump(_meta([2], [2], "float64", codecs, keyenc, fill="NaN"), f)
    _write(root, "c/0", struct.pack("<2d", 0.25, -0.75))
    meta = read_zarr_v3_meta(root)
    assert np.isnan(meta["fill_value"])
    got = {r.row: r.value for r in read_zarr_vector(spark, root).collect()}
    assert got == {0: 0.25, 1: -0.75}


# --- writer ↔ reader -------------------------------------------------------------


def test_v3_write_read_roundtrip_blosc(spark, tmp_path):
    """Writer output read back bit-exactly through the blosc+crc32c
    default chain, including the 2-D edge chunk on both axes."""
    import pandas as pd

    n, dim = 10, 5
    rng = np.random.default_rng(7)
    emb = rng.normal(size=(n, dim)).astype(np.float32)
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(n), "embedding": list(map(list, emb))})
    )
    root = str(tmp_path / "store")
    info = write_zarr_group(df, root, V3(), rows_per_chunk=4, cols_per_chunk=3)
    assert info["shape"] == [n, dim]
    assert info["n_chunks"] == 3 * 2  # ceil(10/4) x ceil(5/3)
    x = read_zarr_matrix(spark, os.path.join(root, "X"))
    ids = read_zarr_vector(spark, os.path.join(root, "vec_id"))
    assert {r.row: r.value for r in ids.collect()} == {i: i for i in range(n)}
    from collections import defaultdict

    slices = defaultdict(dict)
    for r in x.collect():
        slices[r.row][r.col0] = list(r.values)
    got = np.array(
        [sum((slices[i][c] for c in sorted(slices[i])), []) for i in range(n)],
        dtype=np.float32,
    )
    assert np.array_equal(got, emb)


# --- sharding_indexed -------------------------------------------------------------


def _shard_meta(shape, shard, inner, data_type, inner_codecs, loc="end", fill=0):
    keyenc = {"name": "default", "configuration": {"separator": "/"}}
    return _meta(
        shape,
        shard,
        data_type,
        [
            {
                "name": "sharding_indexed",
                "configuration": {
                    "chunk_shape": inner,
                    "codecs": inner_codecs,
                    "index_codecs": [
                        {"name": "bytes", "configuration": {"endian": "little"}},
                        {"name": "crc32c"},
                    ],
                    "index_location": loc,
                },
            }
        ],
        keyenc,
        fill=fill,
    )


_BYTES_LE = [{"name": "bytes", "configuration": {"endian": "little"}}]


def _index(entries, loc="end"):
    raw = b"".join(struct.pack("<QQ", o, n) for o, n in entries)
    return raw + crc32c(raw).to_bytes(4, "little")


def test_sharded_1d_handbuilt_footer_index_and_missing_chunk(spark, tmp_path):
    """Shape [6] shard [4] inner [2]: shard c/0 packs two present inner
    chunks; shard c/1 has ONE present and one ABSENT (sentinel) — absent
    inner cells read as fill, then the shape trim drops the padding.
    Every byte from the spec: body followed by a crc32c'd (offset,
    nbytes) footer index, offsets absolute within the shard."""
    root = str(tmp_path / "sharded1d")
    os.makedirs(root)
    with open(os.path.join(root, "zarr.json"), "w") as f:
        json.dump(_shard_meta([6], [4], [2], "int32", _BYTES_LE, fill=7), f)
    c0a, c0b = struct.pack("<2i", 10, 11), struct.pack("<2i", 12, 13)
    _write(root, "c/0", c0a + c0b + _index([(0, 8), (8, 8)]))
    miss = (1 << 64) - 1
    c1a = struct.pack("<2i", 14, 15)
    _write(root, "c/1", c1a + _index([(0, 8), (miss, miss)]))
    got = {r.row: r.value for r in read_zarr_vector(spark, root).collect()}
    # rows 0-5; rows 4,5 come from shard 1 inner 0; the absent inner chunk
    # covers rows 6,7 which the shape trims anyway
    assert got == {0: 10, 1: 11, 2: 12, 3: 13, 4: 14, 5: 15}


def test_sharded_header_index_and_fill_visible(spark, tmp_path):
    """index_location=start shifts the body base; an absent inner chunk
    INSIDE the array shape (not padding) must surface the fill value."""
    root = str(tmp_path / "shardedhdr")
    os.makedirs(root)
    with open(os.path.join(root, "zarr.json"), "w") as f:
        json.dump(
            _shard_meta([4], [4], [2], "int64", _BYTES_LE, loc="start", fill=99), f
        )
    isz = 16 * 2 + 4
    miss = (1 << 64) - 1
    body = struct.pack("<2q", 21, 22)
    _write(root, "c/0", _index([(miss, miss), (isz, 16)], "start") + body)
    got = {r.row: r.value for r in read_zarr_vector(spark, root).collect()}
    assert got == {0: 99, 1: 99, 2: 21, 3: 22}


def test_sharded_corrupt_index_crc_rejected(spark, tmp_path):
    root = str(tmp_path / "shardedbad")
    os.makedirs(root)
    with open(os.path.join(root, "zarr.json"), "w") as f:
        json.dump(_shard_meta([2], [2], [2], "int32", _BYTES_LE), f)
    body = struct.pack("<2i", 1, 2)
    raw = struct.pack("<QQ", 0, 8)
    bad = raw + (crc32c(raw) ^ 5).to_bytes(4, "little")
    _write(root, "c/0", body + bad)
    with pytest.raises(Exception, match="crc32c mismatch"):
        read_zarr_vector(spark, root).collect()


def test_sharded_guards_named(tmp_path):
    root = str(tmp_path / "shardguards")
    os.makedirs(root)
    keyenc = {"name": "default", "configuration": {"separator": "/"}}

    def put(meta):
        with open(os.path.join(root, "zarr.json"), "w") as f:
            json.dump(meta, f)

    shard = {
        "name": "sharding_indexed",
        "configuration": {"chunk_shape": [2], "codecs": _BYTES_LE},
    }
    # outer compression after the shard codec
    put(_meta([4], [4], "int32", [shard, {"name": "gzip"}], keyenc))
    with pytest.raises(NotImplementedError, match="after sharding_indexed"):
        read_zarr_v3_meta(root)
    # indivisible inner shape
    bad = {
        "name": "sharding_indexed",
        "configuration": {"chunk_shape": [3], "codecs": _BYTES_LE},
    }
    put(_meta([4], [4], "int32", [bad], keyenc))
    with pytest.raises(ValueError, match="not divisible"):
        read_zarr_v3_meta(root)
    # unsupported index chain
    odd = {
        "name": "sharding_indexed",
        "configuration": {
            "chunk_shape": [2],
            "codecs": _BYTES_LE,
            "index_codecs": [{"name": "gzip"}],
        },
    }
    put(_meta([4], [4], "int32", [odd], keyenc))
    with pytest.raises(NotImplementedError, match="index_codecs"):
        read_zarr_v3_meta(root)


def test_sharded_write_read_roundtrip_2d(spark, tmp_path):
    """Writer shards read back bit-exactly: 2-D with both row and column
    edges, 4-row inner chunks inside 8-row shards, absent trailing inner
    chunk in the final shard (10 rows -> shard 1 rows 8..15, inner slab
    12..15 all-padding and written ABSENT)."""
    import pandas as pd

    n, dim = 10, 5
    rng = np.random.default_rng(11)
    emb = rng.normal(size=(n, dim)).astype(np.float32)
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(n), "embedding": list(map(list, emb))})
    )
    root = str(tmp_path / "shardstore")
    write_zarr_group(df, root, V3(shard_inner_rows=4), rows_per_chunk=8, cols_per_chunk=3)
    meta = read_zarr_v3_meta(os.path.join(root, "X"))
    assert meta["sharding"] is not None and meta["sharding"]["inner"] == [4, 3]
    ids = read_zarr_vector(spark, os.path.join(root, "vec_id"))
    assert {r.row: r.value for r in ids.collect()} == {i: i for i in range(n)}
    from collections import defaultdict

    slices = defaultdict(dict)
    for r in read_zarr_matrix(spark, os.path.join(root, "X")).collect():
        slices[r.row][r.col0] = list(r.values)
    got = np.array(
        [sum((slices[i][c] for c in sorted(slices[i])), []) for i in range(n)],
        dtype=np.float32,
    )
    assert np.array_equal(got, emb)
