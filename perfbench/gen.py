"""Seeded input generators for the benchmark workloads.

Every table follows the FIXTURES.md schema and value domains. The same
``(seed, size)`` always yields byte-identical parquet files, written
into ``<cache>/<workload>-s<seed>-<size>/`` and reused by later runs,
so generation never counts toward a run's set-up time. A ``manifest``
file written last marks a finished directory and records the planted
properties the correctness checks need.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ("en", "de", "es", "fr", "zh")
EVENT_TYPES = ("error", "signup", "purchase", "view", "click")
HOUR_US = 3_600_000_000


def bucket(doc_id: int) -> int:
    """Python twin of the curation key's md5 bucket in [0, 100)."""
    return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) % 100


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` distinct lower-case pseudo-words of 2-4 syllables."""
    syl = np.array([c + v for c in "bcdfghjklmnprstvz" for v in "aeiou"])
    words: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(2, 5))
        words.add("".join(rng.choice(syl, k)))
    return np.array(sorted(words))


def _epoch_us(year: int) -> int:
    """Microseconds from 1970-01-01 to January 1 of ``year``."""
    return int((dt.datetime(year, 1, 1) - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _ts_array(micros: np.ndarray) -> pa.Array:
    return pa.array(micros.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def _events_table(rng, n: int, first_id: int, n_users: int, zipf_s: float,
                  t0_us: int, span_us: int) -> pa.Table:
    """``events`` rows with Zipf-skewed ``user_id`` and strictly
    increasing, unique event time inside ``[t0, t0 + span)``."""
    ranks = np.arange(1, n_users + 1, dtype=np.float64)
    p = ranks ** -zipf_s
    users = rng.choice(n_users, size=n, p=p / p.sum())
    # distinct offsets keep (user_id, ts) unique, so as-of and running
    # window tie-breaks never depend on the engine
    offs = np.sort(rng.choice(span_us, size=n, replace=False))
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": _ts_array(t0_us + offs),
        "user_id": pa.array(users.astype("int64")),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.uniform(0.01, 490.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _documents_table(rng, n: int, props: dict) -> tuple[pa.Table, list[list[int]]]:
    """``documents`` with planted exact duplicates, repetitive docs and
    eval-slice overlap (shares in ``props``). Returns the table and the
    planted exact-duplicate pairs ``[orig_id, dup_id]``."""
    lang_p = np.array(props["lang_share"], dtype=np.float64)
    langs = rng.choice(LANGS, n, p=lang_p / lang_p.sum())
    vocabs = {lg: _vocab(rng, props["vocab_per_lang"]) for lg in LANGS}
    lo, hi = props["tokens"]
    texts: list[str] = []
    for i in range(n):
        toks = rng.choice(vocabs[langs[i]], int(rng.integers(lo, hi + 1)))
        texts.append(" ".join(toks))

    ids = np.arange(n)
    kind = rng.random(n)
    rep_cut = props["repetitive_share"]
    ovl_cut = rep_cut + props["eval_overlap_share"]
    eval_ids = [i for i in range(n) if bucket(i) < 5]
    for i in range(n):
        if kind[i] < rep_cut:
            # degenerate boilerplate: one short phrase repeated, so the
            # duplicate-token ratio is far above the 0.3 filter
            phrase = texts[i].split(" ")[:3]
            texts[i] = " ".join(phrase * int(rng.integers(8, 20)))
        elif kind[i] < ovl_cut and bucket(i) >= 5:
            # splice an 8-token passage of an eval-slice doc into the text
            src = texts[int(rng.choice(eval_ids))].split(" ")
            at = int(rng.integers(0, len(src) - 8))
            mine = texts[i].split(" ")
            cut = int(rng.integers(0, len(mine)))
            texts[i] = " ".join(mine[:cut] + src[at:at + 8] + mine[cut:])

    # exact duplicates: each copies a distinct earlier, non-duplicate doc
    n_dup = int(round(n * props["exact_dup_share"]))
    dup_ids = rng.choice(ids[n // 2:], n_dup, replace=False)
    origs = rng.choice(ids[: n // 2], n_dup, replace=False)
    pairs = []
    for k, (o, d) in enumerate(zip(origs.tolist(), dup_ids.tolist())):
        t = texts[o]
        if k % 2:
            # whitespace variant: same tokens, different bytes
            t = t.replace(" ", "  ", 3)
        texts[d] = t
        langs[d] = langs[o]
        pairs.append([o, d])

    table = pa.table({
        "doc_id": pa.array(ids.astype("int64")),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return table, sorted(pairs)


# Declared properties per workload: what each generated input holds.
# README.md gives the reason for each choice.
PROPS = {
    "llm_curate": {
        "documents": 800,
        "tokens": [20, 120],
        "vocab_per_lang": 4000,
        "lang_share": [0.6, 0.1, 0.1, 0.1, 0.1],
        "exact_dup_share": 0.1,
        "repetitive_share": 0.05,
        "eval_overlap_share": 0.04,
    },
    "stream_state": {
        "files": 3,
        "rows_per_file": 1000,
        "users": 2000,
        "zipf_s": 1.1,
    },
}


def size_tag(workload: str) -> str:
    """Short digest of the declared properties: a cache key that
    changes whenever a property does."""
    blob = json.dumps(PROPS[workload], sort_keys=True).encode()
    return hashlib.sha1(blob).hexdigest()[:10]


def generate(workload: str, seed: int, cache_dir: str) -> tuple[str, dict]:
    """Return ``(input_dir, manifest)`` for ``workload`` at ``seed``,
    generating the files once per seed and size."""
    out = os.path.join(cache_dir, f"{workload}-s{seed}-{size_tag(workload)}")
    manifest_path = os.path.join(out, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return out, json.load(f)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng([seed, sorted(PROPS).index(workload)])
    props = PROPS[workload]
    manifest: dict = {"workload": workload, "seed": seed, "props": props}
    if workload == "llm_curate":
        docs, pairs = _documents_table(rng, props["documents"], props)
        _write(docs, os.path.join(tmp, "documents.parquet"))
        manifest["dup_pairs"] = pairs
        manifest["rows_per_pass"] = docs.num_rows
    else:
        # a directory of part files: the stream source, and readable as
        # the ``events`` table by ``session.load_table``
        src = os.path.join(tmp, "events.parquet")
        os.makedirs(src)
        n = props["rows_per_file"]
        for k in range(props["files"]):
            # one file per micro-batch; event time advances file by file
            tb = _events_table(rng, n, k * n, props["users"], props["zipf_s"],
                               _epoch_us(2024) + k * HOUR_US, HOUR_US)
            _write(tb, os.path.join(src, f"part-{k:05d}.parquet"))
        manifest["rows_per_pass"] = props["files"] * n
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, manifest
