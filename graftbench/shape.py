#!/usr/bin/env python3
"""Shape figures of a directory of the engine's input tables.

    python3 graftbench/shape.py <data dir>

Prints one `name: value` line per figure: row counts, key cardinalities,
category mixes, text lengths and vocabulary, PII-pattern matches (the
engine's own email, IPv4 and phone patterns), near-duplicates, language
mix, event time span and gaps, and how the vectors cluster by label.
Diff the output for two directories to compare their shapes, e.g. a
directory `gen.py` wrote against the sf0.1 tables it reproduces.
"""
import collections
import re
import sys

import numpy as np
import pyarrow.parquet as pq

EMAIL = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
IPV4 = re.compile(r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}")
PHONE = re.compile(r"\+?[0-9][0-9()\- ]{6,}[0-9]")


def figures(data):
    t = {n: pq.read_table(f"{data}/{n}.parquet").to_pydict() for n in
         ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")}
    f = {f"{n}.rows": len(next(iter(c.values()))) for n, c in t.items()}
    f["orders.distinct_custkey"] = len(set(t["orders"]["o_custkey"]))
    f["lineitem.distinct_orderkey"] = len(set(t["lineitem"]["l_orderkey"]))
    f["part.distinct_name"] = len(set(t["part"]["p_name"]))
    for table, col in (("orders", "o_orderdate"), ("lineitem", "l_shipdate")):
        f[f"{table}.{col}.range"] = f"{min(t[table][col])} .. {max(t[table][col])}"

    ev = t["events"]
    ts = np.array([x.timestamp() for x in ev["ts"]])
    gaps = np.diff(ts)
    per_user = np.array(list(collections.Counter(ev["user_id"]).values()))
    f["events.distinct_users"] = len(per_user)
    f["events.per_user.min_median_max"] = \
        f"{per_user.min()} {np.median(per_user):g} {per_user.max()}"
    f["events.span_days"] = round((ts.max() - ts.min()) / 86400, 2)
    f["events.ts_strictly_increasing"] = bool((gaps > 0).all())
    f["events.gap_s.mean_median"] = f"{gaps.mean():.2f} {np.median(gaps):.2f}"
    f["events.type_mix"] = _mix(ev["event_type"])
    f["events.value.mean"] = round(float(np.mean(ev["value"])), 2)
    f["events.distinct_props"] = len(set(ev["props"]))

    doc = t["documents"]
    texts = doc["text"]
    words = np.array([len(x.split(" ")) for x in texts])
    chars = np.array([len(x) for x in texts])
    f["documents.words.min_mean_max"] = f"{words.min()} {words.mean():.2f} {words.max()}"
    f["documents.chars.min_mean_max"] = f"{chars.min()} {chars.mean():.1f} {chars.max()}"
    f["documents.vocabulary"] = len({w for x in texts for w in x.split(" ")})
    for name, pat in (("email", EMAIL), ("ipv4", IPV4), ("phone", PHONE)):
        f[f"documents.with_{name}"] = sum(1 for x in texts if pat.search(x))
    f["documents.with_digit"] = sum(1 for x in texts if re.search("[0-9]", x))
    f["documents.non_ascii"] = sum(1 for x in texts if not x.isascii())
    whole = set(texts)
    f["documents.ending_dup"] = sum(1 for x in texts if x.endswith(" dup"))
    f["documents.dup_of_another"] = sum(1 for x in texts if x.endswith(" dup") and x[:-4] in whole)
    f["documents.distinct_text"] = len(whole)
    f["documents.lang_mix"] = _mix(doc["lang"])
    by_lang = collections.defaultdict(list)
    for x, lang in zip(texts, doc["lang"]):
        by_lang[lang].append(len(x.split(" ")))
    f["documents.mean_words_by_lang"] = \
        " ".join(f"{k}={np.mean(v):.1f}" for k, v in sorted(by_lang.items()))
    f["documents.distinct_source"] = len(set(doc["source"]))

    emb = t["embeddings"]
    m = np.array(emb["embedding"], dtype=np.float64)
    label = np.array(emb["label"])
    norms = np.linalg.norm(m, axis=1)
    f["embeddings.dim"] = m.shape[1]
    f["embeddings.norm.min_max"] = f"{norms.min():.4f} {norms.max():.4f}"
    f["embeddings.distinct_label"] = len(set(label.tolist()))
    # about 1/sqrt(vectors per label) when the label carries no direction
    f["embeddings.label_centroid_norm"] = round(float(np.mean(
        [np.linalg.norm(m[label == k].mean(0)) for k in np.unique(label)])), 3)
    cos = m @ m.T
    np.fill_diagonal(cos, -2.0)
    f["embeddings.nearest_same_label"] = round(float((label[cos.argmax(1)] == label).mean()), 3)
    return f


def _mix(values):
    c = collections.Counter(values)
    return " ".join(f"{k}={c[k] / len(values):.3f}" for k in sorted(c))


if __name__ == "__main__":
    for k, v in figures(sys.argv[1]).items():
        print(f"{k}: {v}")
