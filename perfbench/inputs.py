"""Seeded inputs for the three workloads. The engine sees only these files.

- ``audio_tables``: ``synth.generate_clips`` (with its planted tones) plus
  defects the benchmark plants for the other audio opt-in checks, each on a
  clean, unduplicated clip, with the reference row updated to match so the
  payload check stays quiet: a 50 ms interior dropout, a four-frame stutter,
  a quiet clip with one near-full-scale spike (cannot be normalised without
  clipping), and a u-law/A-law label swap (the payload check must then
  report that clip's SNR too).
- ``catalog_tables``: a TPC-H-shaped catalog (plus ``events`` and
  ``documents``) with planted FK orphans and near-duplicate documents. The
  content is fixed; the seed only permutes rows and which file each row
  lands in, so every seed has the same answers.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from audit_anomaly_detection_etl_spark.functions import codecs
from audit_anomaly_detection_etl_spark.sources import synth

LOSSLESS = ("pcm_s16le", "pcm_f32le")


def audio_tables(n_clips: int, n_parts: int, seed: int, plants_per_check: int):
    """``(ClipTables, planted)`` where ``planted`` maps a check family to
    the keys the benchmark planted for it."""
    t = synth.generate_clips(n_clips=n_clips, n_parts=n_parts, seed=seed, tone_rate=0.01)
    clips = t.clips.to_pandas()
    ref = t.clips_ref.to_pandas()
    dirty = set(t.violations_expected.column("clip_id").to_pylist())
    counts = clips["clip_id"].value_counts()
    ref_row = {k: i for i, k in enumerate(ref["clip_id"])}
    row = {k: i for i, k in enumerate(clips["clip_id"])}
    clean = [
        k for k in clips["clip_id"]
        if k not in dirty and counts[k] == 1 and k in ref_row
    ]
    rng = np.random.default_rng(seed ^ 0x5EED)
    order = list(rng.permutation(len(clean)))
    planted: dict[str, set] = {}

    def take(fam: str, ok) -> list[str]:
        picked = []
        for j in list(order):
            k = clean[j]
            if ok(clips.at[row[k], "codec"], int(clips.at[row[k], "dur_ms"])):
                picked.append(k)
                order.remove(j)
                if len(picked) == plants_per_check:
                    break
        planted[fam] = set(picked)
        return picked

    def rewrite(k: str, pcm: np.ndarray) -> None:
        clips.at[row[k], "bytes"] = codecs.encode(pcm, clips.at[row[k], "codec"])
        ref.at[ref_row[k], "pcm_ref"] = pcm.astype(np.float32).tobytes()

    def signal(k: str) -> tuple[np.ndarray, int]:
        pcm = np.frombuffer(ref.at[ref_row[k], "pcm_ref"], dtype=np.float32)
        return pcm.astype(np.float64), int(clips.at[row[k], "sr_hz"])

    long_lossless = lambda c, d: c in LOSSLESS and d >= 300  # noqa: E731
    for k in take("dropout", long_lossless):
        pcm, sr = signal(k)
        s, w = len(pcm) // 4, int(sr * 0.05)
        pcm[s : s + w] = 0.0
        rewrite(k, pcm)
    for k in take("stutter", long_lossless):
        pcm, sr = signal(k)
        fl = max(1, int(round(sr * 0.02)))
        for j in (2, 3, 4):
            pcm[j * fl : (j + 1) * fl] = pcm[fl : 2 * fl]
        rewrite(k, pcm)
    for k in take("loudness", long_lossless):
        pcm, _sr = signal(k)
        pcm *= 0.03
        pcm[len(pcm) // 2] = 0.9
        rewrite(k, pcm)
    swap = {"ulaw": "alaw", "alaw": "ulaw"}
    for k in take("codec_sniff", lambda c, d: c in swap):
        clips.at[row[k], "codec"] = swap[clips.at[row[k], "codec"]]

    t.clips = pa.Table.from_pandas(clips, schema=t.clips.schema, preserve_index=False)
    t.clips_ref = pa.Table.from_pandas(ref, schema=t.clips_ref.schema, preserve_index=False)
    return t, planted


def expected_default(t, planted: dict[str, set]) -> dict[str, set]:
    """Default-check families: the sidecar (its planted tones belong to the
    opt-in ``tonal`` check) plus the payload SNR of every label swap."""
    exp: dict[str, set] = {}
    for k, c in zip(
        t.violations_expected.column("clip_id").to_pylist(),
        t.violations_expected.column("check").to_pylist(),
    ):
        if c != "tonal":
            exp.setdefault(c, set()).add(k)
    if planted.get("codec_sniff"):
        exp.setdefault("payload_snr", set()).update(planted["codec_sniff"])
    return exp


# ---------------------------------------------------------------------------
# catalog
# ---------------------------------------------------------------------------

_CATALOG_SEED = 20241017
_VOCAB = (
    "batch part spark line column order small sort fast value scan a hash "
    "slow group agg filter query big key window row table stream merge data "
    "join vector customer the"
).split()


def _catalog_frames(sizes: dict[str, int]) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(_CATALOG_SEED)
    n_li, n_ord, n_part = sizes["lineitem"], sizes["orders"], sizes["part"]
    n_sup, n_cust = sizes["supplier"], sizes["customer"]
    n_ev, n_users, n_docs = sizes["events"], sizes["users"], sizes["documents"]
    day = np.datetime64("2024-01-01T00:00:00", "us")
    us_per_day = 86_400_000_000

    def ts(n, days):
        return day + rng.integers(0, days * us_per_day, n).astype("timedelta64[us]")

    region = pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32),
                           "r_name": [f"R{i}" for i in range(5)]})
    nation = pd.DataFrame({"n_nationkey": np.arange(25, dtype=np.int32),
                           "n_name": [f"N{i}" for i in range(25)],
                           "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    nation.loc[24, "n_regionkey"] = 7  # orphan region
    supplier = pd.DataFrame({"s_suppkey": np.arange(1, n_sup + 1, dtype=np.int64),
                             "s_name": [f"S{i}" for i in range(n_sup)],
                             "s_nationkey": rng.integers(0, 25, n_sup).astype(np.int32),
                             "s_acctbal": np.round(rng.uniform(-999, 9999, n_sup), 2)})
    supplier.loc[0, "s_nationkey"] = 31  # orphan nation
    customer = pd.DataFrame({"c_custkey": np.arange(1, n_cust + 1, dtype=np.int64),
                             "c_name": [f"C{i}" for i in range(n_cust)],
                             "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                             "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
                             "c_mktsegment": rng.choice(["AUTO", "BUILD", "FURN", "HOUSE", "MACH"], n_cust)})
    part = pd.DataFrame({"p_partkey": np.arange(1, n_part + 1, dtype=np.int64),
                         "p_name": [f"P{i}" for i in range(n_part)],
                         "p_brand": rng.choice([f"B{i}" for i in range(25)], n_part),
                         "p_type": rng.choice(["STEEL", "BRASS", "TIN", "COPPER"], n_part),
                         "p_size": rng.integers(1, 50, n_part).astype(np.int32),
                         "p_retailprice": np.round(rng.uniform(900, 2000, n_part), 2)})
    o_cust = pd.array(rng.integers(1, n_cust + 1, n_ord), dtype="Int64")
    o_cust[:5] = n_cust + np.arange(1, 6)  # orphan customers
    o_cust[5:8] = pd.NA  # null FKs
    orders = pd.DataFrame({"o_orderkey": np.arange(1, n_ord + 1, dtype=np.int64) * 4,
                           "o_custkey": o_cust,
                           "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
                           "o_totalprice": np.round(rng.uniform(1000, 400000, n_ord), 2),
                           "o_orderdate": ts(n_ord, 2000),
                           "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT", "5-LOW"], n_ord)})
    l_ord = orders["o_orderkey"].to_numpy()[rng.integers(0, n_ord, n_li)]
    l_ord[:4] = 4 * n_ord + 1 + np.arange(4)  # orphan orders
    l_part = rng.integers(1, n_part + 1, n_li)
    l_part[4:6] = n_part + 10
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pd.DataFrame({"l_orderkey": l_ord.astype(np.int64),
                             "l_partkey": l_part.astype(np.int64),
                             "l_suppkey": rng.integers(1, n_sup + 1, n_li).astype(np.int64),
                             "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
                             "l_quantity": qty,
                             "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_li), 2),
                             "l_discount": np.round(rng.uniform(0, 0.1, n_li), 2),
                             "l_tax": np.round(rng.uniform(0, 0.08, n_li), 2),
                             "l_returnflag": rng.choice(["A", "N", "R"], n_li),
                             "l_linestatus": rng.choice(["F", "O"], n_li),
                             "l_shipdate": ts(n_li, 2400)})
    events = pd.DataFrame({"event_id": np.arange(n_ev, dtype=np.int64),
                           "ts": np.sort(ts(n_ev, 30)),
                           "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
                           "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], n_ev),
                           "value": np.round(rng.exponential(50.0, n_ev), 2),
                           "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    vocab = np.asarray(_VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(8, 90))]) for _ in range(n_docs)]
    for i in range(0, n_docs, 20):  # near-duplicates: copy a doc, edit one word
        src = texts[int(rng.integers(0, n_docs))].split()
        src[int(rng.integers(len(src) // 2, len(src)))] = str(vocab[int(rng.integers(0, len(vocab)))])
        texts[i] = " ".join(src)
    documents = pd.DataFrame({"doc_id": np.arange(n_docs, dtype=np.int64),
                              "text": texts,
                              "lang": rng.choice(["en", "de", "fr", "es", "zh"], n_docs),
                              "source": [f"src{i % 20}" for i in range(n_docs)],
                              "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    return {"region": region, "nation": nation, "supplier": supplier, "customer": customer,
            "part": part, "orders": orders, "lineitem": lineitem, "events": events,
            "documents": documents}


def write_catalog(out_dir: str, seed: int, sizes: dict[str, int], files_per_table: int) -> None:
    """``<out_dir>/<table>.parquet`` directories; ``seed`` permutes the rows
    and so decides which rows share a file."""
    rng = np.random.default_rng(seed)
    for name, df in _catalog_frames(sizes).items():
        d = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(d, exist_ok=True)
        tbl = pa.Table.from_pandas(df.iloc[rng.permutation(len(df))], preserve_index=False)
        k = files_per_table if len(df) >= 1000 else 1
        step = -(-len(df) // k)
        for i in range(k):
            pq.write_table(tbl.slice(i * step, step), os.path.join(d, f"part-{i}.parquet"))
