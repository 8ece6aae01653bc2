"""WebDataset tar-shard interop — the de-facto wire format for
multimodal training data (github.com/webdataset/webdataset: a dataset
is a set of POSIX tar files; a SAMPLE is every member sharing a
basename key, extensions carry the modalities, e.g. ``0001.jpg`` +
``0001.txt`` + ``0001.json``).  Training loaders stream shards
sequentially, so the storage contract is "many medium tars, samples
contiguous" — exactly a partition-per-shard Spark layout:

- **Sink** (:func:`to_webdataset`): rows shard deterministically
  (``pmod(xxhash64(key), n_shards)`` or an explicit shard column),
  ONE ``applyInPandas`` task per shard streams its members into
  ``<path>/<prefix>-<NNNNNN>.tar`` sorted by key (zeroed tar metadata
  -> byte-deterministic output), and the driver collects only the
  O(shards) manifest.  Per-task memory is one shard's rows — size
  shards with ``n_shards``, never the driver.
- **Source** (:func:`read_webdataset`): one input partition per tar
  (the WebDataset unit of parallelism), each decoded by ``tarfile``
  inside ``mapInPandas`` into ``(key, ext, data, shard)`` rows, or
  pivoted to one row per SAMPLE with a ``map<ext, binary>``.

Everything is stdlib ``tarfile`` + Arrow batches; no Python in any
per-row hot path beyond the shard task that owns the bytes anyway.
At 100 TB: shards are independent units for both writing and reading,
so parallelism is ``n_shards`` end to end; re-sharding is one shuffle
keyed by the shard id.

Reference parity anchor: the reference ships no tar interop (its
multimodal story stops at S3 object copy, ``s3/_copy.py``); this is a
beyond-reference sink/source in the same family as ``sources/avro.py``.
"""

from __future__ import annotations

import glob as _glob
import io
import os
import tarfile
from typing import Any, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_sdk_pandas_spark._types import local_frame
from aws_sdk_pandas_spark.exceptions import InvalidArgument


def _write_shard_tar(
    out_path: str, rows: "list[tuple[str, str, bytes]]"
) -> tuple[int, int]:
    """Stream (key, ext, data) members into one tar, sorted by
    (key, ext), zeroed metadata for byte-determinism.  Returns
    (n_members, size_bytes)."""
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    rows = sorted(rows, key=lambda r: (r[0], r[1]))
    with tarfile.open(out_path, "w") as tf:
        for key, ext, data in rows:
            info = tarfile.TarInfo(name=f"{key}.{ext}")
            info.size = len(data)
            info.mtime = 0
            info.uid = info.gid = 0
            info.uname = info.gname = ""
            tf.addfile(info, io.BytesIO(data))
    return len(rows), os.path.getsize(out_path)


def to_webdataset(
    df: DataFrame,
    path: str,
    *,
    key_col: str,
    columns: dict[str, str],
    n_shards: int = 16,
    shard_col: str | None = None,
    name_prefix: str = "shard",
) -> list[dict[str, Any]]:
    """Write a WebDataset: one tar per shard, one member per (sample,
    extension).  ``columns`` maps tar EXTENSIONS to frame columns, e.g.
    ``{"txt": "text", "json": "meta", "jpg": "image_bytes"}`` — string
    columns encode utf-8, binary columns pass through, NULL cells skip
    that member (a sample may legitimately lack a modality).  Sharding
    is ``pmod(xxhash64(key), n_shards)`` (content-deterministic: a
    rerun reproduces identical tars byte-for-byte) unless ``shard_col``
    names an explicit int column.  Keys must be unique per sample —
    duplicate (key, ext) members would shadow each other in loaders, so
    they raise here.  Returns the O(shards) manifest
    ``[{"shard", "path", "n_members", "size_bytes"}, ...]``."""
    if not columns:
        raise InvalidArgument("columns must map at least one extension")
    for ext in columns:
        if not ext or "/" in ext or ext.startswith("."):
            raise InvalidArgument(f"bad extension {ext!r}")
    if n_shards < 1:
        raise InvalidArgument("n_shards must be >= 1")
    key = F.col(key_col).cast("string")
    shard = (
        F.col(shard_col).cast("int")
        if shard_col
        else F.pmod(F.xxhash64(key), F.lit(n_shards)).cast("int")
    )
    sel = [key.alias("__key"), shard.alias("__shard")]
    schema_parts = []
    for ext, col in columns.items():
        dt = dict(df.dtypes).get(col)
        if dt is None:
            raise InvalidArgument(f"column {col!r} not in frame")
        c = F.col(col) if dt == "binary" else F.encode(F.col(col).cast("string"), "utf-8")
        sel.append(c.alias(f"__d_{ext}"))
        schema_parts.append(f"`__d_{ext}` binary")
    rows = df.select(*sel)
    if rows.where(F.col("__key").isNull()).limit(1).count():
        raise InvalidArgument("NULL sample keys cannot name tar members")
    # the WebDataset loader splits key/extension at the FIRST dot of the
    # basename, so a dotted key would silently re-split on read
    if rows.where(F.col("__key").contains(".")).limit(1).count():
        raise InvalidArgument(
            "sample keys must not contain '.' (WebDataset splits the "
            "basename at the FIRST dot; a dotted key would re-split)"
        )

    root = path
    prefix = name_prefix
    exts = list(columns)

    def write_shard(pdf):
        import pandas as pd

        sh = int(pdf["__shard"].iloc[0])
        members: list[tuple[str, str, bytes]] = []
        seen = set()
        series = [pdf["__key"]] + [pdf[f"__d_{e}"] for e in exts]
        for k, *vals in zip(*series):
            if k in seen:
                raise InvalidArgument(
                    f"duplicate sample key {k!r} in shard {sh}: WebDataset "
                    "members would shadow each other"
                )
            seen.add(k)
            for ext, data in zip(exts, vals):
                if data is None:
                    continue
                members.append((k, ext, bytes(data)))
        out = os.path.join(root, f"{prefix}-{sh:06d}.tar")
        n, size = _write_shard_tar(out, members)
        return pd.DataFrame(
            {"shard": [sh], "path": [out], "n_members": [n], "size_bytes": [size]}
        )

    res = (
        rows.groupBy("__shard")
        .applyInPandas(
            write_shard, "shard int, path string, n_members long, size_bytes long"
        )
        .collect()
    )
    return sorted((r.asDict() for r in res), key=lambda d: d["shard"])


def read_webdataset(
    spark: SparkSession,
    path: str,
    *,
    samples: bool = False,
) -> DataFrame:
    """Read WebDataset tar shards: ``path`` is a directory, a glob, or
    one tar file.  Default output is one row per member ``(key, ext,
    data, shard)``; ``samples=True`` pivots to one row per SAMPLE
    ``(key, shard, parts map<string, binary>)`` — WebDataset's sample =
    all members sharing the basename key within a shard.  One input
    partition per tar (the format's unit of parallelism); members
    stream through stdlib ``tarfile`` in Arrow batches."""
    p = path
    if os.path.isdir(p):
        tars = sorted(_glob.glob(os.path.join(p, "*.tar")))
    elif any(ch in p for ch in "*?["):
        tars = sorted(_glob.glob(p))
    else:
        tars = [p] if os.path.exists(p) else []
    if not tars:
        raise InvalidArgument(f"no .tar shards under {path!r}")

    files = local_frame(spark, [(t,) for t in tars], "tar string").repartition(len(tars))

    def gen(batches) -> Iterator:
        import pandas as pd

        for pdf in batches:
            for tar_path in pdf["tar"]:
                shard = os.path.basename(tar_path)
                keys, exts, datas = [], [], []
                with tarfile.open(tar_path, "r") as tf:
                    for info in tf:
                        if not info.isfile():
                            continue
                        name = info.name
                        # WebDataset rule: key = path + basename up to
                        # the FIRST dot OF THE BASENAME, extension = the
                        # rest ('d.v1/x.json.gz' -> key 'd.v1/x', ext
                        # 'json.gz')
                        dirpart, _, fname = name.rpartition("/")
                        stem, dot, ext = fname.partition(".")
                        base = f"{dirpart}/{stem}" if dirpart else stem
                        fh = tf.extractfile(info)
                        keys.append(base)
                        exts.append(ext)
                        datas.append(fh.read() if fh else b"")
                yield pd.DataFrame(
                    {
                        "key": pd.Series(keys, dtype="object"),
                        "ext": pd.Series(exts, dtype="object"),
                        "data": pd.Series(datas, dtype="object"),
                        "shard": pd.Series([shard] * len(keys), dtype="object"),
                    }
                )

    out = files.mapInPandas(gen, "key string, ext string, data binary, shard string")
    if not samples:
        return out
    return out.groupBy("key", "shard").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("ext", "data")))
        ).alias("parts")
    )
