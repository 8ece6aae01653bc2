"""Megatron-LM indexed-dataset interop (.bin/.idx shard pairs) — the
public on-disk format Megatron/NeMo/GPT-NeoX training loaders memory-map
(megatron/core/datasets/indexed_dataset.py, the MMapIndexedDataset
'MMIDIDX' layout):

- ``<name>.bin``: every sequence's token array back to back, one dtype;
- ``<name>.idx``: magic ``MMIDIDX\\x00\\x00`` + version u64(1) + dtype
  code u8 + sequence count u64 + document count u64, then the i32
  per-sequence lengths, the i64 per-sequence BYTE pointers into the
  ``.bin``, and the i64 document index (sequence offsets of document
  starts, with the trailing end sentinel).

A Spark corpus maps onto it as one (bin, idx) PAIR PER SHARD — exactly
how Megatron consumes large corpora (a blended list of shard prefixes):

- **Sink** (:func:`to_megatron`): rows shard deterministically
  (``pmod(xxhash64(key), n)`` or an explicit shard column), ONE
  ``applyInPandas`` task per shard streams its sequences (sorted by
  key — content-addressed, so reruns are byte-identical) through numpy
  into ``<path>/<prefix>-<NNNNNN>.bin/.idx``; the driver collects the
  O(shards) manifest.  Per-task memory = one shard's tokens.
- **Source** (:func:`read_megatron`): one partition per shard pair,
  decoded by the same header walk into ``(shard, seq_index, tokens)``
  rows — the verification path that closes the loop without a trainer
  on the box.

Here every SEQUENCE is its own document in the doc index (the layout
trainers produce when upstream packing — ``operators/packing.py`` —
already flattened documents into fixed-length sequences).

Reference parity anchor: the reference has no trainer-format sink (its
story stops at parquet/CSV); this is a beyond-reference sink in the
same family as ``sources/webdataset.py``.
"""

from __future__ import annotations

import glob as _glob
import os
import struct
from typing import Any, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_sdk_pandas_spark._types import local_frame
from aws_sdk_pandas_spark.exceptions import InvalidArgument

_MAGIC = b"MMIDIDX\x00\x00"
# Megatron's dtype codes (indexed_dataset.DType)
_DTYPES = {"uint8": 1, "int8": 2, "int16": 3, "int32": 4, "int64": 5,
           "float32": 6, "float64": 7, "uint16": 8}
_CODE2NP = {v: k for k, v in _DTYPES.items()}


def _write_shard_pair(
    prefix_path: str, seqs: "list[Any]", dtype: str
) -> tuple[int, int, int]:
    """Write one .bin/.idx pair; returns (n_sequences, n_tokens, bin_bytes)."""
    import numpy as np

    np_dt = np.dtype(dtype)
    sizes, pointers, ptr = [], [], 0
    with open(prefix_path + ".bin", "wb") as bf:
        for toks in seqs:
            arr = np.asarray(toks, dtype=np.int64)
            if arr.size and (arr.min() < 0 and np_dt.kind == "u"):
                raise InvalidArgument(
                    f"negative token id {int(arr.min())} cannot encode as {dtype}"
                )
            info = np.iinfo(np_dt)
            if arr.size and (arr.min() < info.min or arr.max() > info.max):
                raise InvalidArgument(
                    f"token id out of {dtype} range "
                    f"[{info.min}, {info.max}] in shard {prefix_path!r}"
                )
            data = arr.astype(np_dt).tobytes()
            bf.write(data)
            sizes.append(len(arr))
            pointers.append(ptr)
            ptr += len(data)
    n = len(sizes)
    with open(prefix_path + ".idx", "wb") as xf:
        xf.write(_MAGIC)
        xf.write(struct.pack("<Q", 1))
        xf.write(struct.pack("<B", _DTYPES[dtype]))
        xf.write(struct.pack("<Q", n))
        xf.write(struct.pack("<Q", n))  # one document per sequence
        xf.write(np.asarray(sizes, dtype=np.int32).tobytes())
        xf.write(np.asarray(pointers, dtype=np.int64).tobytes())
        xf.write(np.arange(n + 1, dtype=np.int64).tobytes())  # doc index
    return n, int(sum(sizes)), ptr


def to_megatron(
    df: DataFrame,
    path: str,
    *,
    key_col: str,
    tokens_col: str = "tokens",
    dtype: str = "int32",
    n_shards: int = 16,
    shard_col: str | None = None,
    name_prefix: str = "shard",
) -> list[dict[str, Any]]:
    """Write a Megatron indexed dataset: one ``.bin``/``.idx`` pair per
    shard, sequences from ``tokens_col`` (``array<int>``/``array<long>``),
    sharded by ``pmod(xxhash64(key), n_shards)`` (content-deterministic;
    reruns produce byte-identical shards) unless ``shard_col`` names an
    explicit int column.  Sequences sort by key within a shard.  NULL
    tokens arrays and NULL keys are refused loudly — a trainer would
    map garbage.  Returns the O(shards) manifest
    ``[{"shard", "path", "n_sequences", "n_tokens", "bin_bytes"}, ...]``."""
    if dtype not in _DTYPES:
        raise InvalidArgument(f"dtype {dtype!r} not in {sorted(_DTYPES)}")
    if n_shards < 1:
        raise InvalidArgument("n_shards must be >= 1")
    key = F.col(key_col).cast("string")
    shard = (
        F.col(shard_col).cast("int")
        if shard_col
        else F.pmod(F.xxhash64(key), F.lit(n_shards)).cast("int")
    )
    rows = df.select(
        key.alias("__key"),
        shard.alias("__shard"),
        F.col(tokens_col).cast("array<long>").alias("__toks"),
    )
    bad = rows.where(F.col("__key").isNull() | F.col("__toks").isNull())
    if bad.limit(1).count():
        raise InvalidArgument(
            "NULL keys / NULL token arrays cannot be written to an indexed "
            "dataset (a trainer would memory-map garbage) — filter first"
        )
    root, prefix, dt = path, name_prefix, dtype

    def write_shard(pdf):
        import pandas as pd

        sh = int(pdf["__shard"].iloc[0])
        order = sorted(range(len(pdf)), key=lambda i: pdf["__key"].iloc[i])
        seqs = [pdf["__toks"].iloc[i] for i in order]
        os.makedirs(root, exist_ok=True)
        out = os.path.join(root, f"{prefix}-{sh:06d}")
        n, n_tok, n_bytes = _write_shard_pair(out, seqs, dt)
        return pd.DataFrame(
            {
                "shard": [sh],
                "path": [out],
                "n_sequences": [n],
                "n_tokens": [n_tok],
                "bin_bytes": [n_bytes],
            }
        )

    res = (
        rows.groupBy("__shard")
        .applyInPandas(
            write_shard,
            "shard int, path string, n_sequences long, n_tokens long, bin_bytes long",
        )
        .collect()
    )
    return sorted((r.asDict() for r in res), key=lambda d: d["shard"])


def read_megatron(spark: SparkSession, path: str) -> DataFrame:
    """Read Megatron indexed-dataset shards back as ``(shard,
    seq_index, tokens array<long>)`` rows: ``path`` is a directory, a
    glob over ``.idx`` files, or one shard prefix.  One input partition
    per shard pair; each task memory-maps nothing — it streams the idx
    header then slices the bin by the recorded pointers."""
    p = path
    if os.path.isdir(p):
        idxs = sorted(_glob.glob(os.path.join(p, "*.idx")))
    elif any(ch in p for ch in "*?["):
        idxs = sorted(_glob.glob(p))
    elif os.path.exists(p + ".idx"):
        idxs = [p + ".idx"]
    elif os.path.exists(p):
        idxs = [p]
    else:
        idxs = []
    if not idxs:
        raise InvalidArgument(f"no .idx shards under {path!r}")

    files = local_frame(spark, [(i,) for i in idxs], "idx string").repartition(len(idxs))

    def gen(batches) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            for idx_path in pdf["idx"]:
                shard = os.path.basename(idx_path)[: -len(".idx")]
                with open(idx_path, "rb") as fh:
                    blob = fh.read()
                if blob[:9] != _MAGIC:
                    raise InvalidArgument(f"{idx_path!r}: bad MMIDIDX magic")
                (version,) = struct.unpack_from("<Q", blob, 9)
                if version != 1:
                    raise InvalidArgument(
                        f"{idx_path!r}: unsupported idx version {version}"
                    )
                code = blob[17]
                if code not in _CODE2NP:
                    raise InvalidArgument(f"{idx_path!r}: unknown dtype code {code}")
                np_dt = np.dtype(_CODE2NP[code])
                if np_dt.kind == "f":
                    raise InvalidArgument(
                        f"{idx_path!r}: {np_dt.name} payload is not token "
                        "ids — reading it as array<long> would silently "
                        "truncate"
                    )
                n, _docs = struct.unpack_from("<QQ", blob, 18)
                off = 34
                sizes = np.frombuffer(blob, dtype=np.int32, count=n, offset=off)
                off += 4 * n
                pointers = np.frombuffer(blob, dtype=np.int64, count=n, offset=off)
                with open(idx_path[: -len(".idx")] + ".bin", "rb") as bf:
                    bin_blob = bf.read()
                toks = [
                    np.frombuffer(
                        bin_blob, dtype=np_dt, count=int(sizes[i]),
                        offset=int(pointers[i]),
                    ).astype(np.int64).tolist()
                    for i in range(n)
                ]
                yield pd.DataFrame(
                    {
                        "shard": pd.Series([shard] * n, dtype="object"),
                        "seq_index": pd.Series(range(n), dtype="int64"),
                        "tokens": pd.Series(toks, dtype="object"),
                    }
                )

    return files.mapInPandas(
        gen, "shard string, seq_index long, tokens array<long>"
    )
