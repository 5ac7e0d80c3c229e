"""Seeded input generator for the catalog benchmark.

Derives one input directory from a test-data directory (TESTDATA.md) with the
faithful-scaling rules of `graft.DevScaleRehearsal`, so that the seed
changes the content of the tables and not only their row order:

- TPC-H keys (orders, lineitem, customer, part, supplier) and event keys
  (event_id) shift by k * STRIDE, where STRIDE is divisible by every
  modulus the catalog samples keys with, so every `key % m` bucket, and
  with it every sampled query set, keeps its size. Foreign keys shift
  with the keys they point at, so join cardinalities are unchanged.
- Every token of documents.text gets a per-seed suffix, which rewrites
  every shingle and signature while keeping token counts and the
  duplicate structure inside the corpus; n_chars follows the new text.
- Every embedding component moves by a deterministic per-(seed, vector,
  dimension) sine of amplitude 0.05.

doc_id, user_id and vec_id do not shift. The suffix-array corpus plants
its boilerplate from the absolute ids doc_id 0/20/40/60, and q30
regresses on user_id as a number, so shifting either would change what
those queries compute rather than the data they read. Embeddings
already change through the perturbation, and an unshifted vec_id keeps
the same vectors in every sampled query set.

`check` verifies the rules on a generated directory: equal row counts,
equal `key % m` bucket histograms for every shifted key and modulus,
unchanged ids, and changed content.
"""
import hashlib
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Every modulus the catalog applies to a key (`col % m` in the query
# and oracle sources).
MODULI = [2, 3, 4, 5, 6, 7, 9, 10, 11, 12, 13, 17, 20, 23, 28, 31, 32,
          40, 50, 60, 80, 97, 100, 150, 200, 256, 300, 900, 9000]
STRIDE = math.lcm(*MODULI)
# k * STRIDE + key stays below 2**53, so a key cast to double is exact.
MAX_K = (2 ** 53 - 10 ** 7) // STRIDE

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

SHIFTED = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id"],
}
UNCHANGED_IDS = {"documents": "doc_id", "embeddings": "vec_id",
                 "events": "user_id"}

VERSION = "1"


def variant_seed(seed, variant):
    """A distinct 31-bit seed per (seed, variant)."""
    h = hashlib.sha256(f"{VERSION}:{seed}:{variant}".encode()).digest()
    return int.from_bytes(h[:4], "big") & 0x7FFFFFFF


def shift_of(vseed):
    return (1 + vseed % MAX_K) * STRIDE


def generate(src, dst, vseed):
    """Writes every table of `src` into `dst`, transformed for `vseed`."""
    os.makedirs(dst, exist_ok=True)
    shift = shift_of(vseed)
    # fixed length, so every seed adds the same characters per token
    suffix = "z" + np.base_repr(vseed, 36).lower().rjust(6, "0")
    for name in TABLES:
        t = pq.read_table(f"{src}/{name}.parquet")
        cols = {}
        for c in SHIFTED.get(name, []):
            cols[c] = pc.add_checked(t[c], pa.scalar(shift, t[c].type))
        if name == "documents":
            text = pc.replace_substring_regex(
                t["text"], pattern=r"(\S+)", replacement=r"\1" + suffix)
            cols["text"] = text
            cols["n_chars"] = pc.cast(pc.utf8_length(text), t["n_chars"].type)
        if name == "embeddings":
            cols["embedding"] = perturb(t["embedding"], t["vec_id"], vseed)
        for c, arr in cols.items():
            t = t.set_column(t.schema.get_field_index(c), c, arr)
        pq.write_table(t, f"{dst}/{name}.parquet")


def perturb(emb, vec_id, vseed):
    """x + sin(vec_id * 7 + i + seed * 13) * 0.05, kept float32."""
    emb = emb.combine_chunks()
    offsets = emb.offsets.to_numpy()
    values = emb.values.to_numpy(zero_copy_only=False).astype(np.float64)
    lengths = np.diff(offsets)
    ids = np.repeat(vec_id.to_numpy().astype(np.float64), lengths)
    pos = np.arange(len(values)) - np.repeat(offsets[:-1], lengths)
    phase = np.fmod(vseed * 13.0, 2 * math.pi)
    out = (values + np.sin(ids * 7.0 + pos + phase) * 0.05).astype(np.float32)
    return pa.ListArray.from_arrays(
        pa.array(offsets, pa.int32()), pa.array(out, pa.float32()),
        mask=emb.is_null())


def row_counts(d):
    return {n: pq.ParquetFile(f"{d}/{n}.parquet").metadata.num_rows
            for n in TABLES}


def check(src, dst):
    """Raises AssertionError unless `dst` keeps the scaling rules."""
    assert row_counts(src) == row_counts(dst), "row counts differ"
    for name, keys in SHIFTED.items():
        a = pq.read_table(f"{src}/{name}.parquet", columns=keys)
        b = pq.read_table(f"{dst}/{name}.parquet", columns=keys)
        for k in keys:
            x = a[k].to_numpy()
            y = b[k].to_numpy()
            assert not np.array_equal(x, y), f"{name}.{k} did not shift"
            for m in MODULI:
                assert np.array_equal(
                    np.bincount(x % m, minlength=m),
                    np.bincount(y % m, minlength=m)), \
                    f"{name}.{k} % {m} buckets differ"
    for name, k in UNCHANGED_IDS.items():
        a = pq.read_table(f"{src}/{name}.parquet", columns=[k])[k]
        b = pq.read_table(f"{dst}/{name}.parquet", columns=[k])[k]
        assert a.equals(b), f"{name}.{k} changed"
    a = pq.read_table(f"{src}/documents.parquet", columns=["text"])["text"]
    b = pq.read_table(f"{dst}/documents.parquet", columns=["text"])["text"]
    assert not a.equals(b), "documents.text did not change"
    assert pc.count_substring_regex(a, r"\S+").equals(
        pc.count_substring_regex(b, r"\S+")), "token counts differ"
    a = pq.read_table(f"{src}/embeddings.parquet")["embedding"]
    b = pq.read_table(f"{dst}/embeddings.parquet")["embedding"]
    assert not a.equals(b), "embeddings did not change"
    assert pc.list_value_length(a).equals(pc.list_value_length(b)), \
        "embedding dimensions differ"
