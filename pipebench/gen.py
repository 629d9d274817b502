"""Seeded input generator for the pipeline benchmark.

Derives schema-identical tables from the read-only sf0.1 test tables
(events, lineitem, documents) plus a stream of JSON-lines append
batches, all as a pure function of the seed:

- events: the complete histories of a seeded set of sf0.1 entities,
  relabelled 0..n-1, with event types shuffled, values rescaled within
  +-5% and the JSON `props` payload redrawn. Timestamps and event ids
  are kept.
- lineitem: a seeded 10% sample of the sf0.1 lineitem, discount and tax
  shuffled.
- documents: the crawl-mode corpus, CRAWL_FACTOR copies of a seeded
  BASE_DOCS sample of the sf0.1 documents (the stopword-preserving
  letter-suffix bijection of ScaleGen's `crawl` mode, copy i > 0 tags
  every non-stopword token with `q` + base-26(i - 1)), text assigned to
  doc ids by a seeded permutation, plus seeded hazards that keep every
  curation stage busy: exact copies (keep-best dedup), one-token edits
  (near-dup), a shared 24-token boilerplate line (span cut), markup
  (strip) and e-mail / phone strings (redaction). A small `src0` set
  cut from one seeded copy is the decontamination benchmark.
- appends: JSON-lines batches of new events for the same entities after
  the base range, with a seeded 2% of malformed lines that ingest must
  quarantine.

Every table keeps the oracles' data contracts: no null text, no NaN
measures, |values| < 1e6, money columns at 2 decimal places. A `warm`
subdirectory holds a small cut of the same tables for the untimed
warm-up pass. Output is cached per workload and seed under
`<outRoot>/<workload>/seed<N>`, with its row counts in `sizes.json`.

Usage: python3 pipebench/gen.py <srcSfDir> <outRoot> <seed> <workload>
"""
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

VERSION = "v6"
STOPWORDS = {"the", "a", "of", "and", "is", "in", "to"}
CRAWL_FACTOR = 2
BASE_DOCS = 2500
WEATHER_USERS = 40
WARM_USERS = 10
N_BATCHES = 8
LINEITEM_ROWS = 60_000
BATCH_ROWS = 200
BOILERPLATE = ("subscribe to the weekly digest for more stream window merge "
               "notes and join the data table group for batch scan hash "
               "query tips").split()


def b26(i):
    return chr(ord("a") + i) if i < 26 else b26(i // 26 - 1) + chr(ord("a") + i % 26)


def crawl_text(text, tag):
    if not tag:
        return text
    return "\n".join(
        " ".join(t if t == "" or t.lower() in STOPWORDS else t + tag
                 for t in line.split(" "))
        for line in text.split("\n"))


def events_table(src, rng, users=None):
    """sf0.1 events, relabelled and perturbed. With `users`, only the
    complete histories of that many seeded entities, relabelled
    0..users-1."""
    t = pq.read_table(f"{src}/events.parquet")
    ids = t.column("user_id").to_numpy()
    n_all = int(ids.max()) + 1
    order = rng.permutation(n_all)
    if users is not None:
        keep = order[:users]
        t = t.filter(pa.array(np.isin(ids, keep)))
        ids = t.column("user_id").to_numpy()
        relabel = np.zeros(n_all, dtype=np.int64)
        relabel[keep] = rng.permutation(users)
    else:
        relabel = order
    n = t.num_rows
    value = np.round(t.column("value").to_numpy() * rng.uniform(0.95, 1.05, n), 2)
    etype = np.array(t.column("event_type").to_pylist(), dtype=object)[rng.permutation(n)]
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
    return pa.table({
        "event_id": t.column("event_id"),
        "ts": t.column("ts"),
        "user_id": pa.array(relabel[ids], pa.int64()),
        "event_type": pa.array(etype.tolist(), pa.string()),
        "value": pa.array(value, pa.float64()),
        "props": pa.array(props, pa.string()),
    }, schema=t.schema)


def lineitem_table(src, rng, rows):
    """A seeded sample of `rows` sf0.1 lineitem rows, discount and tax
    permuted among them."""
    t = pq.read_table(f"{src}/lineitem.parquet")
    t = t.take(np.sort(rng.choice(t.num_rows, rows, replace=False)))
    n = t.num_rows
    cols = {name: t.column(name) for name in t.column_names}
    for name in ("l_discount", "l_tax"):
        cols[name] = pa.array(t.column(name).to_numpy()[rng.permutation(n)], pa.float64())
    return pa.table(cols, schema=t.schema)


def documents_table(src, rng, factor, base_docs):
    base = pq.read_table(f"{src}/documents.parquet")
    base = base.take(np.sort(rng.choice(base.num_rows, base_docs, replace=False)))
    texts = base.column("text").to_pylist()
    langs = base.column("lang").to_pylist()
    ids0 = base.column("doc_id").to_pylist()
    n = len(texts)
    rows = []  # (doc_id, text, lang, source)
    for i in range(factor):
        tag = "" if i == 0 else "q" + b26(i - 1)
        perm = rng.permutation(n)
        srcs = rng.integers(1, 5, n)
        for j in range(n):
            k = int(perm[j])
            rows.append((ids0[j] + i * 100_000_000, crawl_text(texts[k], tag),
                         langs[k], f"src{srcs[j]}"))
    m = len(rows)
    extra_id = factor * 100_000_000

    def pick(frac):
        return rng.choice(m, int(m * frac), replace=False)

    extras = []
    for r in pick(0.03):  # exact copies for keep-best dedup
        d = rows[r]
        extras.append((extra_id + len(extras), d[1], d[2], f"src{rng.integers(1, 5)}"))
    for r in pick(0.03):  # one-token edits for near-dup removal
        d = rows[r]
        toks = d[1].split(" ")
        toks[int(rng.integers(len(toks)))] = "dup"
        extras.append((extra_id + len(extras), " ".join(toks), d[2], d[3]))
    rows.extend(extras)
    m = len(rows)
    for r in pick(0.03):  # shared boilerplate line for the span cut
        d = rows[r]
        rows[r] = (d[0], d[1] + "\n" + " ".join(BOILERPLATE), d[2], d[3])
    for r in pick(0.02):  # markup for the strip stage
        d = rows[r]
        rows[r] = (d[0], "<p>" + d[1] + "</p> &amp; <b>more</b>", d[2], d[3])
    for r in pick(0.02):  # PII for redaction
        d = rows[r]
        u = int(rng.integers(10_000))
        rows[r] = (d[0], f"{d[1]} contact user{u}@example.com or 555-{u % 1000:03d}-{u:04d}",
                   d[2], d[3])
    # decontamination benchmark: 30 docs of one seeded copy become src0
    copy = int(rng.integers(1, factor))
    in_copy = [r for r in range(factor * n) if rows[r][0] // 100_000_000 == copy]
    for r in rng.choice(in_copy, 30, replace=False):
        d = rows[r]
        rows[r] = (d[0], d[1], d[2], "src0")
    order = rng.permutation(m)
    rows = [rows[r] for r in order]
    return pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
        "lang": pa.array([r[2] for r in rows], pa.string()),
        "source": pa.array([r[3] for r in rows], pa.string()),
        "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
    }, schema=base.schema)


def append_batches(out, rng, events, n_batches):
    """JSON-lines batches of new events for the entities of `events`,
    after its time range, with values drawn from its values."""
    os.makedirs(out, exist_ok=True)
    t0 = np.datetime64("2024-01-31T00:00:00", "us")
    types = ["click", "view", "purchase", "signup", "error"]
    users = np.unique(events.column("user_id").to_numpy())
    values = events.column("value").to_numpy()
    eid = int(pc.max(events.column("event_id")).as_py()) + 1
    for b in range(n_batches):
        lines = []
        offs = np.sort(rng.integers(0, 3_600_000_000, BATCH_ROWS))
        bad = set(rng.choice(BATCH_ROWS, BATCH_ROWS // 50, replace=False).tolist())
        for r in range(BATCH_ROWS):
            ts = str(t0 + np.timedelta64(b * 3_600_000_000 + int(offs[r]), "us"))
            rec = {"event_id": eid, "ts": ts, "user_id": int(rng.choice(users)),
                   "event_type": types[int(rng.integers(5))],
                   "value": float(rng.choice(values)),
                   "props": json.dumps({"k": int(rng.integers(100))})}
            eid += 1
            line = json.dumps(rec)
            lines.append(line[: len(line) // 2] if r in bad else line)
        with open(f"{out}/batch_{b:04d}.jsonl", "w") as f:
            f.write("\n".join(lines) + "\n")


def write(table, path):
    pq.write_table(table, path, row_group_size=1 << 20)


def generate(src, out, seed, workload):
    rng = np.random.default_rng(seed)
    os.makedirs(f"{out}/warm", exist_ok=True)
    if workload == "weather_pipeline":
        events = events_table(src, rng, WEATHER_USERS)
        lineitem = lineitem_table(src, rng, LINEITEM_ROWS)
        write(events, f"{out}/events.parquet")
        write(lineitem, f"{out}/lineitem.parquet")
        append_batches(f"{out}/appends", rng, events, N_BATCHES)
        # whole entity histories, so the warm-up model has labelled rows
        warm = events_table(src, rng, WARM_USERS)
        write(warm, f"{out}/warm/events.parquet")
        write(lineitem.slice(0, 5000), f"{out}/warm/lineitem.parquet")
        append_batches(f"{out}/warm/appends", rng, warm, 1)
        sizes = {"events": events.num_rows, "entities": WEATHER_USERS,
                 "lineitem": lineitem.num_rows, "append_batch_rows": BATCH_ROWS}
    elif workload == "corpus_curation":
        docs = documents_table(src, rng, CRAWL_FACTOR, BASE_DOCS)
        write(docs, f"{out}/documents.parquet")
        src0 = docs.filter(pc.equal(docs.column("source"), "src0"))
        rest = docs.filter(pc.not_equal(docs.column("source"), "src0"))
        write(pa.concat_tables([src0.slice(0, 5), rest.slice(0, 995)]),
              f"{out}/warm/documents.parquet")
        sizes = {"documents": docs.num_rows, "crawl_factor": CRAWL_FACTOR,
                 "benchmark_docs": src0.num_rows}
    else:
        raise ValueError(f"unknown workload {workload}")
    with open(f"{out}/sizes.json", "w") as f:
        json.dump(sizes, f)


def ensure(src, root, seed, workload):
    """Generate the inputs of `workload` for `seed` unless a complete
    copy exists; returns their directory."""
    out = f"{root}/{workload}/seed{seed}"
    marker = f"{out}/_DONE_{VERSION}"
    if os.path.exists(marker):
        return out
    shutil.rmtree(out, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    generate(src, tmp, seed, workload)
    open(f"{tmp}/_DONE_{VERSION}", "w").close()
    os.replace(tmp, out)
    return out


if __name__ == "__main__":
    print(ensure(sys.argv[1], sys.argv[2], int(sys.argv[3]), sys.argv[4]))
