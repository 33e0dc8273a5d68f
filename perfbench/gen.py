"""Seeded input generator for the benchmark workloads.

Every input is a pure function of (workload, seed, size): the same
arguments give byte-identical tables. Outputs are cached under
``<cache_root>/<workload>-s<seed>-<size>/``; the ``_COMPLETE`` sentinel
is written only after the last file, so a run killed mid-generation
leaves a directory that the next run regenerates instead of reading a
partial fixture. Multi-file tables are written as several files so no
scan collapses into a single task (one file under
``spark.sql.files.maxPartitionBytes`` is one scan split).

The generated directory also holds ``properties.json``: the sizes and
the input properties the workloads depend on (key skew, near-dup rate,
cluster-size skew, document length, late-event share).
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SENTINEL = "_COMPLETE"
KEEP_CACHED = 2  # per workload; older seeds are evicted

# Sizes per workload. The key is part of the cache path, so changing a
# size never reads a stale fixture.
SIZES = {
    "olap_mix": dict(fact_rows=500_000, customers=10_000,
                     products=5_000, stores=100, files=8, zipf_a=1.2),
    # the Demo.ipynb tables do not depend on the seed, like the
    # reference's own generator: built once per size and shared
    "olap_demo": dict(rows=1_000_000, files=8),
    "curation_dedup": dict(docs=3_000, vocab=4_000, files=8,
                           near_dup_share=0.10, exact_dup_share=0.02,
                           junk_share=0.05, emb_dims=64,
                           emb_pair_share=0.02),
    "stream_ingest": dict(join_files=3, purchases_per_file=600,
                          clicks_per_file=1_200, users=1_500,
                          late_share=0.05, slice_minutes=60,
                          base_docs=1_000, probe_files=1,
                          docs_per_probe_file=250, vocab=4_000,
                          probe_dup_share=0.15),
}

STOPWORDS = ["the", "of", "and", "to", "in", "a", "is", "that", "for",
             "it", "with", "as", "was", "on", "be", "this", "have",
             "from", "by", "not", "are", "at", "or", "but", "which"]


def _size_key(size: dict) -> str:
    import hashlib

    blob = json.dumps(size, sort_keys=True).encode()
    return hashlib.sha1(blob).hexdigest()[:10]


def ensure(workload: str, seed: int, cache_root: str) -> tuple[str, dict]:
    """Return (directory, properties) of the generated inputs, building
    them first when the cache has no complete copy."""
    size = SIZES[workload]
    out = os.path.join(cache_root, f"{workload}-s{seed}-{_size_key(size)}")
    if os.path.exists(os.path.join(out, SENTINEL)):
        with open(os.path.join(out, "properties.json")) as f:
            return out, json.load(f)
    shutil.rmtree(out, ignore_errors=True)
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.perf_counter()
    props = _GENERATORS[workload](tmp, np.random.default_rng(seed), size)
    if workload == "olap_mix":
        props["demo"] = os.path.basename(ensure("olap_demo", 0, cache_root)[0])
    props.update(workload=workload, seed=seed, sizes=size,
                 generate_s=round(time.perf_counter() - t0, 3))
    with open(os.path.join(tmp, "properties.json"), "w") as f:
        json.dump(props, f, indent=1, sort_keys=True)
    os.rename(tmp, out)
    with open(os.path.join(out, SENTINEL), "w") as f:
        f.write("ok\n")
    _evict(cache_root, workload, keep=out)
    return out, props


def _evict(cache_root: str, workload: str, keep: str) -> None:
    entries = sorted(
        (e for e in os.scandir(cache_root)
         if e.name.startswith(workload + "-") and e.path != keep),
        key=lambda e: e.stat().st_mtime, reverse=True)
    for e in entries[KEEP_CACHED - 1:]:
        shutil.rmtree(e.path, ignore_errors=True)


def _write_files(table, path: str, files: int) -> None:
    """Write ``table`` as ``files`` parquet files of contiguous rows."""
    if isinstance(table, pd.DataFrame):
        table = pa.Table.from_pandas(table, preserve_index=False)
    os.makedirs(path)
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    for i in range(files):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(path, f"part-{i:03d}.parquet"))


def _prefixed(prefix: str, values: np.ndarray) -> pa.Array:
    """``prefix + str(v)`` for each value, built in Arrow."""
    return pc.binary_join_element_wise(
        prefix, pa.array(values).cast(pa.string()), "")


def _zipf_keys(rng, n: int, domain: int, a: float) -> np.ndarray:
    """``n`` draws from a Zipf(a) law truncated to ``[0, domain)``; the
    rank -> key map is a seeded permutation so hot keys are scattered."""
    w = 1.0 / np.arange(1, domain + 1) ** a
    ranks = rng.choice(domain, size=n, p=w / w.sum())
    return rng.permutation(domain)[ranks]


# ---------------------------------------------------------------------------
# olap_mix: the Demo.ipynb tables plus a star schema
# ---------------------------------------------------------------------------

def _gen_demo(out: str, rng, s: dict) -> dict:
    """Demo.ipynb's two tables (2M rows each there, ``rows`` here):
    (first, last) name pairs with ids and cities, and the same pairs
    shuffled with ages."""
    n = s["rows"]
    idx = np.arange(n)
    first, last = _prefixed("A", idx), _prefixed("B", idx)
    ids = pa.table({"first_name": first, "last_name": last,
                    "user_id": pa.array(idx.astype("int32")),
                    "city": _prefixed("C", idx % 101)})
    perm = pa.array(rng.permutation(n))
    ages = pa.table({"first_name": first.take(perm),
                     "last_name": last.take(perm),
                     "age": pa.array(rng.integers(0, 100, n)
                                     .astype("int32"))})
    _write_files(ids, os.path.join(out, "user_ids"), s["files"])
    _write_files(ages, os.path.join(out, "ages"), s["files"])
    return {"demo_rows": n}


def _gen_olap(out: str, rng, s: dict) -> dict:
    nf, nc, npr, ns = (s["fact_rows"], s["customers"], s["products"],
                       s["stores"])
    prod = _zipf_keys(rng, nf, npr, s["zipf_a"])
    fact = pd.DataFrame({
        "order_id": rng.permutation(nf).astype("int64"),
        "cust_id": rng.integers(0, nc, nf).astype("int64"),
        "prod_id": prod.astype("int64"),
        "store_id": rng.integers(0, ns, nf).astype("int64"),
        "qty": rng.integers(1, 50, nf).astype("int64"),
        # money in integer cents and discounts in whole percent, so
        # every aggregate is exact and digests compare bit-for-bit
        "price": rng.integers(100, 100_000, nf).astype("int64"),
        "discount": rng.integers(0, 11, nf).astype("int64"),
        "ship_day": rng.integers(0, 3650, nf).astype("int64"),
        "flag": rng.choice(np.array(["A", "N", "R"], dtype=object), nf),
        "status": rng.choice(np.array(["F", "O"], dtype=object), nf),
    })
    _write_files(fact, os.path.join(out, "fact"), s["files"])
    customer = pd.DataFrame({
        "cust_id": np.arange(nc, dtype="int64"),
        "segment": rng.choice(np.array(["AUTO", "BUILD", "FURN", "HOUSE",
                                        "MACH"], dtype=object), nc),
        "nation_id": rng.integers(0, 25, nc).astype("int64")})
    _write_files(customer, os.path.join(out, "customer"), 2)
    product = pd.DataFrame({
        "prod_id": np.arange(npr, dtype="int64"),
        "category": np.char.add("cat", rng.integers(0, 20, npr)
                                .astype(str)).astype(object),
        "brand": np.char.add("b", rng.integers(0, 200, npr)
                             .astype(str)).astype(object)})
    _write_files(product, os.path.join(out, "product"), 2)
    store = pd.DataFrame({
        "store_id": np.arange(ns, dtype="int64"),
        "region": rng.choice(np.array(["AFRICA", "AMERICA", "ASIA",
                                       "EUROPE", "MIDEAST"], dtype=object),
                             ns)})
    _write_files(store, os.path.join(out, "store"), 1)
    inventory = pd.DataFrame({
        "prod_id": np.arange(npr, dtype="int64"),
        "warehouse": rng.integers(0, 16, npr).astype("int64"),
        "stock": rng.integers(0, 1000, npr).astype("int64")})
    _write_files(inventory, os.path.join(out, "inventory"), 4)
    # targets cover 80% of the stores plus 20 stores that do not
    # exist, so an outer merge yields rows from both sides
    tgt_ids = np.concatenate([rng.choice(ns, int(ns * 0.8), replace=False),
                              np.arange(ns, ns + 20)])
    targets = pd.DataFrame({"store_id": tgt_ids.astype("int64"),
                            "target": rng.integers(10**6, 10**8,
                                                   len(tgt_ids))
                            .astype("int64")})
    _write_files(targets, os.path.join(out, "targets"), 1)

    counts = np.bincount(prod, minlength=npr)
    return {"fact_rows": nf,
            "prod_key_top1_share": round(float(counts.max() / nf), 4),
            "prod_key_top10_share":
                round(float(np.sort(counts)[-10:].sum() / nf), 4),
            "prod_key_zipf_a": s["zipf_a"]}


# ---------------------------------------------------------------------------
# text corpora (curation_dedup and the stream_ingest probe)
# ---------------------------------------------------------------------------

def _vocab(rng, size: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set(STOPWORDS)
    out = list(STOPWORDS)
    while len(out) < size:
        w = "".join(rng.choice(letters, rng.integers(3, 10)))
        if w not in words:
            words.add(w)
            out.append(w)
    return np.array(out, dtype=object)


class _Writer:
    """Zipf-vocabulary document writer shared by both text corpora."""

    def __init__(self, rng, vocab_size: int):
        self.rng = rng
        self.vocab = _vocab(rng, vocab_size)
        w = 1.0 / np.arange(1, vocab_size + 1) ** 1.05
        self.p = w / w.sum()

    def doc_words(self) -> list:
        n = int(np.clip(self.rng.lognormal(np.log(50), 0.45), 25, 200))
        return list(self.rng.choice(self.vocab, n, p=self.p))

    def edit(self, words: list, rate: float) -> list:
        out = list(words)
        k = max(1, int(round(len(out) * rate)))
        for pos in self.rng.choice(len(out), k, replace=False):
            out[pos] = self.vocab[self.rng.integers(len(self.vocab))]
        return out


def _gen_curation(out: str, rng, s: dict) -> dict:
    d = s["docs"]
    wr = _Writer(rng, s["vocab"])
    texts: list[str] = []
    kinds: list[str] = []
    cluster: list[int] = []

    n_near = int(d * s["near_dup_share"])
    n_exact = int(d * s["exact_dup_share"])
    n_junk = int(d * s["junk_share"])
    # near-dup clusters with Zipf-skewed sizes (2..40 docs)
    sizes = []
    while sum(sizes) < n_near:
        sizes.append(int(np.clip(rng.zipf(1.8) + 1, 2, 12)))
    for c, size in enumerate(sizes):
        base = wr.doc_words()
        texts.append(" ".join(base))
        kinds.append("near")
        cluster.append(c)
        for _ in range(size - 1):
            texts.append(" ".join(wr.edit(base, rng.uniform(0.01, 0.07))))
            kinds.append("near")
            cluster.append(c)
    n_clean = d - len(texts) - n_exact - n_junk
    for _ in range(n_clean):
        texts.append(" ".join(wr.doc_words()))
        kinds.append("clean")
        cluster.append(-1)
    clean_idx = np.flatnonzero(np.array(kinds) == "clean")
    for src in rng.choice(clean_idx, n_exact, replace=False):
        # same text after normalize_text: case and whitespace differ
        t = texts[src]
        texts.append("  " + t.upper().replace(" ", "   ", 3) + " ")
        kinds.append("exact")
        cluster.append(-1)
    symbols = np.array(list("0123456789#$%&*+=<>|~^"))
    for _ in range(n_junk):
        texts.append(" ".join("".join(rng.choice(symbols, rng.integers(2, 8)))
                              for _ in range(rng.integers(30, 120))))
        kinds.append("junk")
        cluster.append(-1)

    dims = s["emb_dims"]
    emb = rng.standard_normal((d, dims)).astype("float32")
    # planted embedding near-duplicates between clean documents
    n_pairs = int(d * s["emb_pair_share"] / 2)
    pair_docs = rng.choice(clean_idx, 2 * n_pairs, replace=False)
    a_idx, b_idx = pair_docs[:n_pairs], pair_docs[n_pairs:]
    emb[b_idx] = emb[a_idx] + 0.03 * rng.standard_normal(
        (n_pairs, dims)).astype("float32")
    ids = rng.permutation(d).astype("int64")
    order = rng.permutation(d)
    docs = pd.DataFrame({"id": ids[order],
                         "text": np.array(texts, dtype=object)[order],
                         "emb": list(emb[order])})
    _write_files(docs, os.path.join(out, "docs"), s["files"])
    truth = pd.DataFrame({"id": ids, "kind": kinds, "cluster": cluster})
    truth.to_parquet(os.path.join(out, "truth.parquet"), index=False)
    pairs = pd.DataFrame({"id_a": ids[a_idx], "id_b": ids[b_idx]})
    pairs.to_parquet(os.path.join(out, "emb_pairs.parquet"), index=False)
    lens = np.array([len(t) for t in texts])
    return {"docs": d, "near_dup_docs": int(sum(sizes)),
            "near_dup_rate": round(sum(sizes) / d, 4),
            "clusters": len(sizes), "cluster_size_max": int(max(sizes)),
            "cluster_size_mean": round(float(np.mean(sizes)), 2),
            "exact_dups": n_exact, "junk_docs": n_junk,
            "emb_planted_pairs": n_pairs,
            "doc_chars_median": int(np.median(lens)),
            "doc_chars_p90": int(np.percentile(lens, 90))}


# ---------------------------------------------------------------------------
# stream_ingest: clicks x purchases replay plus a near-dup probe stream
# ---------------------------------------------------------------------------

T0 = pd.Timestamp("2026-01-01 00:00:00")


def _gen_stream(out: str, rng, s: dict) -> dict:
    nb, slice_min = s["join_files"], s["slice_minutes"]
    users = np.array([f"u{i}" for i in range(s["users"])], dtype=object)
    purchases, clicks = [], []
    pid = cid = 0
    late = 0
    for b in range(nb):
        start = T0 + pd.Timedelta(minutes=b * slice_min)
        off = rng.uniform(0, slice_min * 60, s["purchases_per_file"])
        pu = rng.choice(users, s["purchases_per_file"])
        purchases.append(pd.DataFrame({
            "purchase_id": np.arange(pid, pid + len(pu), dtype="int64"),
            "user_id": pu,
            "ts": start + pd.to_timedelta(off, unit="s"),
            "amount": rng.integers(100, 50_000, len(pu)).astype("int64")}))
        pid += len(pu)
        nc = s["clicks_per_file"]
        n_late = int(nc * s["late_share"]) if b >= 2 else 0
        cu = rng.choice(users, nc - n_late).astype(object)
        coff = rng.uniform(0, slice_min * 60, nc - n_late)
        cts = start + pd.to_timedelta(coff, unit="s")
        # late clicks come from users who never purchase and are 3 h
        # behind the slice, well past the 1 h watermark: dropped
        lu = np.array([f"late{i}" for i in range(late, late + n_late)],
                      dtype=object)
        lts = pd.DatetimeIndex([start - pd.Timedelta(hours=3)] * n_late)
        late += n_late
        clicks.append(pd.DataFrame({
            "click_id": np.arange(cid, cid + nc, dtype="int64"),
            "user_id": np.concatenate([cu, lu]),
            "ts": cts.append(lts),
            "page": rng.integers(0, 500, nc).astype("int64")}))
        cid += nc
    for name, frames in (("purchases", purchases), ("clicks", clicks)):
        path = os.path.join(out, name)
        os.makedirs(path)
        for b, df in enumerate(frames):
            df["ts"] = df["ts"].astype("datetime64[us]")
            f = os.path.join(path, f"part-{b:03d}.parquet")
            pq.write_table(pa.Table.from_pandas(df, preserve_index=False), f)
            # the file source orders by modification time
            os.utime(f, (1_700_000_000 + b, 1_700_000_000 + b))

    wr = _Writer(rng, s["vocab"])
    base = [wr.doc_words() for _ in range(s["base_docs"])]
    pd.DataFrame({"id": np.arange(len(base), dtype="int64"),
                  "text": [" ".join(w) for w in base]}) \
        .to_parquet(os.path.join(out, "base.parquet"), index=False)
    path = os.path.join(out, "probe")
    os.makedirs(path)
    next_id, planted = len(base), []
    for b in range(s["probe_files"]):
        rows = []
        for _ in range(s["docs_per_probe_file"]):
            if rng.random() < s["probe_dup_share"]:
                src = int(rng.integers(len(base)))
                rows.append(" ".join(wr.edit(base[src],
                                             rng.uniform(0.005, 0.03))))
                planted.append((next_id, src))
            else:
                rows.append(" ".join(wr.doc_words()))
            next_id += 1
        first = next_id - len(rows)
        f = os.path.join(path, f"part-{b:03d}.parquet")
        pd.DataFrame({"id": np.arange(first, next_id, dtype="int64"),
                      "text": rows}).to_parquet(f, index=False)
        os.utime(f, (1_700_000_000 + b, 1_700_000_000 + b))
    pd.DataFrame(planted, columns=["doc", "src"]) \
        .to_parquet(os.path.join(out, "probe_planted.parquet"), index=False)
    n_in = nb * (s["purchases_per_file"] + s["clicks_per_file"])
    return {"join_rows": n_in, "late_clicks": late,
            "late_share": round(late / (nb * s["clicks_per_file"]), 4),
            "probe_docs": next_id - len(base),
            "probe_planted": len(planted), "base_docs": len(base)}


_GENERATORS = {"olap_mix": _gen_olap, "olap_demo": _gen_demo,
               "curation_dedup": _gen_curation,
               "stream_ingest": _gen_stream}
