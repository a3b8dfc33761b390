"""Seeded, structure-preserving copies of the benchmark's input tables.

The default seed uses the fixture tables unchanged (a byte copy). Any
other seed writes a copy in which

- every key domain is relabelled by a seeded permutation of its own
  values, applied consistently to the key and to every foreign key
  that references it (so each join keeps its exact cardinalities), and
  mapping each column's set of values onto itself;
- `documents.text` is rewritten under a seeded bijection of its
  vocabulary (`n_chars` recomputed), which keeps every shingle,
  MinHash and near-duplicate relationship between documents;
- `embeddings.embedding` gets a seeded signed permutation of its
  dimensions, an orthogonal map that keeps every dot product and norm;
- the rows of every table are shuffled.

`events.event_id` is the changelog sequence number of the CDC
workload, not a key of any join, so it keeps its values.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DEFAULT_SEED = 0

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# key domain -> every (table, column) holding a value of that domain;
# the first entry is the domain's primary key
DOMAINS = {
    "region": [("region", "r_regionkey"), ("nation", "n_regionkey")],
    "nation": [("nation", "n_nationkey"), ("customer", "c_nationkey"),
               ("supplier", "s_nationkey")],
    "customer": [("customer", "c_custkey"), ("orders", "o_custkey"),
                 ("events", "user_id")],
    "supplier": [("supplier", "s_suppkey"), ("lineitem", "l_suppkey")],
    "part": [("part", "p_partkey"), ("lineitem", "l_partkey")],
    "orders": [("orders", "o_orderkey"), ("lineitem", "l_orderkey")],
    # documents and embeddings share one id space (doc_id = vec_id joins)
    "doc": [("documents", "doc_id"), ("embeddings", "vec_id")],
}


def derive(src, dst, seed):
    """Write the inputs for `seed` from the fixture dir `src` into `dst`."""
    tmp = dst + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if seed == DEFAULT_SEED:
        for t in TABLES:
            shutil.copyfile(os.path.join(src, f"{t}.parquet"),
                            os.path.join(tmp, f"{t}.parquet"))
    else:
        rng = np.random.default_rng(seed)
        tables = {t: pq.read_table(os.path.join(src, f"{t}.parquet")).replace_schema_metadata(None)
                  for t in TABLES}
        for cols in DOMAINS.values():
            perm, values = _relabel(rng, [tables[t].column(c).to_numpy() for t, c in cols])
            for t, c in cols:
                col = tables[t].column(c)
                new = perm[np.searchsorted(values, col.to_numpy())]
                tables[t] = tables[t].set_column(
                    tables[t].schema.get_field_index(c), c, pa.array(new, type=col.type))
        tables["documents"] = _relabel_words(tables["documents"], rng)
        tables["embeddings"] = _rotate(tables["embeddings"], rng)
        for t, tab in tables.items():
            tab = tab.take(pa.array(rng.permutation(tab.num_rows)))
            pq.write_table(tab, os.path.join(tmp, f"{t}.parquet"),
                           compression="snappy", row_group_size=max(1, tab.num_rows))
    shutil.rmtree(dst, ignore_errors=True)
    os.rename(tmp, dst)


def _relabel(rng, columns):
    """A seeded permutation of the values of one key domain that maps
    every column's value set onto itself: values are only exchanged with
    values used by exactly the same columns. So `events.user_id` keeps
    its set of users (and the CDC changelog its deleted keys), and every
    foreign key keeps the set of keys it reaches.

    Returns (permuted values, sorted values) for lookup by searchsorted.
    """
    values = np.unique(np.concatenate(columns))
    signature = np.zeros(len(values), dtype=np.int64)
    for i, col in enumerate(columns):
        signature |= np.isin(values, col).astype(np.int64) << i
    perm = values.copy()
    for sig in np.unique(signature):
        idx = np.flatnonzero(signature == sig)
        perm[idx] = values[rng.permutation(idx)]
    return perm, values


def _relabel_words(docs, rng):
    texts = docs.column("text").to_pylist()
    vocab = sorted({w for s in texts for w in s.split(" ") if w})
    mapping = dict(zip(vocab, rng.permutation(vocab)))
    mapping[""] = ""
    new = [" ".join(mapping[w] for w in s.split(" ")) for s in texts]
    docs = docs.set_column(docs.schema.get_field_index("text"), "text",
                           pa.array(new, type=pa.string()))
    return docs.set_column(docs.schema.get_field_index("n_chars"), "n_chars",
                           pc.cast(pc.utf8_length(docs.column("text")), pa.int64()))


def _rotate(emb, rng):
    col = emb.column("embedding").combine_chunks()
    dim = len(col[0])
    flat = col.flatten().to_numpy().reshape(-1, dim)
    perm = rng.permutation(dim)
    signs = rng.choice(np.array([-1.0, 1.0], dtype=np.float32), size=dim)
    out = (flat[:, perm] * signs).astype(np.float32)
    arr = pa.FixedSizeListArray.from_arrays(pa.array(out.reshape(-1)), dim).cast(col.type)
    return emb.set_column(emb.schema.get_field_index("embedding"), "embedding", arr)
