"""Seeded input generators for the graft benchmark.

Every input the benchmark hands to the program is written here, from the
seed alone: the same seed gives byte-identical files, another seed gives
different ones (tests/test_gen.py). The shapes follow the repository's
fixture tables (FIXTURES.md), at sizes chosen so one run fits the
benchmark's time budget; `SIZES` is the single place they are set.

    python3 perfbench/gen.py <workload> <seed> <out_dir>

writes the workload's inputs under <out_dir> plus `manifest.json`, which
lists the sizes and the expected outputs the checks compare against.
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    # sync: Copy-phase lineitem docs and Sync-phase change log
    "copy_rows": 20_000,
    "copy_files": 2,
    "copy_warm_rows": 2_000,
    "tail_epochs": 5,
    "tail_rows_per_epoch": 150,
    # probe-curate: the TPC-H-ish star schema and the text/vector corpora
    # the indexes are built from (in several epochs), and the probe script
    "lineitem": 60_000,
    "orders": 15_000,
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "events": 10_000,
    "documents": 1_200,
    "embeddings": 1_000,
    "probe_build_epochs": 2,
    "probe_ops": 400,
    "ingest_epochs": 40,
    "ingest_docs": 40,
}

VECTOR_DIM = 64

BASE_WORDS = (
    "a the spark stream batch table row column key value data query join "
    "scan filter sort hash group agg window merge order part line customer "
    "vector index fast slow big small "
).split()


def vocabulary(rng, size=300):
    """The fixture vocabulary plus seeded pseudo-words, most common first."""
    syll = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "ze", "pi", "so", "de"]
    words = list(BASE_WORDS)
    seen = set(words)
    while len(words) < size:
        w = "".join(rng.choice(syll, size=int(rng.integers(2, 4))))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def zipf_weights(n, s=1.1):
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def gen_documents(rng, n, vocab):
    """Word-salad documents with Zipf word frequencies and ~8% planted
    near-duplicates (one word changed), so the dedup operators find pairs."""
    p = zipf_weights(len(vocab))
    vocab = np.array(vocab)
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.08:
            toks = texts[int(rng.integers(0, i))].split(" ")
            toks[int(rng.integers(0, len(toks)))] = str(rng.choice(vocab, p=p))
        else:
            toks = list(rng.choice(vocab, size=int(rng.integers(8, 80)), p=p))
        texts.append(" ".join(toks))
    langs = rng.choice(["en", "zh", "fr", "es", "de"], size=n,
                       p=[0.4, 0.15, 0.15, 0.15, 0.15])
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": [str(x) for x in langs],
        "source": [f"src{i % 10}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def gen_vectors(rng, n, centroids):
    labels = rng.integers(0, len(centroids), size=n)
    vecs = centroids[labels] + rng.normal(0, 0.08, size=(n, VECTOR_DIM))
    return (np.arange(n, dtype=np.int64),
            vecs.astype(np.float32), labels.astype(np.int32))


def gen_lineitem(rng, n, n_orders, n_parts, n_supp):
    days = rng.integers(0, 365 * 7, size=n)
    ship = (np.datetime64("1994-01-01") + days.astype("timedelta64[D]"))
    return {
        "l_orderkey": rng.integers(1, n_orders + 1, size=n).astype(np.int64),
        "l_partkey": rng.integers(1, n_parts + 1, size=n).astype(np.int64),
        "l_suppkey": rng.integers(1, n_supp + 1, size=n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, size=n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, size=n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, size=n), 2),
        "l_discount": rng.integers(0, 11, size=n) / 100.0,
        "l_tax": rng.integers(0, 9, size=n) / 100.0,
        "l_returnflag": [str(x) for x in rng.choice(["A", "N", "R"], size=n)],
        "l_linestatus": [str(x) for x in rng.choice(["F", "O"], size=n)],
        "l_shipdate": ship.astype("datetime64[us]"),
    }


def write_parquet(path, cols):
    pq.write_table(pa.table(cols), path, compression="snappy")


def write_json_lines(path, rows):
    with open(path, "w", encoding="utf-8") as f:
        for r in rows:
            f.write(json.dumps(r, separators=(",", ":")))
            f.write("\n")


# ---------------------------------------------------------------- sync

COPY_SCHEMA = ("l_orderkey long, l_partkey long, l_suppkey long, "
               "l_linenumber int, l_quantity double, l_extendedprice double, "
               "l_discount double, l_tax double, l_returnflag string, "
               "l_linestatus string, l_shipdate string")
# rows with l_extendedprice > HOT_PRICE (about 5%, some 1,000 keys) also
# go to the JDBC upsert sink. The share is set so the upsert sink does not
# dominate the copy: on 20,000 rows its write took 1.2 s against the
# parquet sink's 1.6 s at 5%, and overtook it (2.0 s against 1.8 s) at 20%
HOT_PRICE = 99_800
TAIL_COLUMNS = [["event_id", "bigint"], ["user_id", "bigint"],
                ["event_type", "varchar"], ["amount", "double"],
                ["note", "varchar"]]


def gen_sync(rng, out):
    # the seed sets the values and the row order; the size is fixed
    n = SIZES["copy_rows"]
    li = gen_lineitem(rng, n, n // 4, 20_000, 1_000)
    ship = np.datetime_as_string(li["l_shipdate"], unit="D")
    order = rng.permutation(n).tolist()
    os.makedirs(f"{out}/copy", exist_ok=True)
    c = {k: (v.tolist() if hasattr(v, "tolist") else v) for k, v in li.items()}
    c["l_shipdate"] = ship.tolist()
    per_file = (n + SIZES["copy_files"] - 1) // SIZES["copy_files"]
    # the warm-up copies a small slice of the first file
    os.makedirs(f"{out}/copy-warm", exist_ok=True)
    chunks = [(f"copy/part-{f:03d}.jsonl", order[f * per_file:(f + 1) * per_file])
              for f in range(SIZES["copy_files"])]
    chunks.append(("copy-warm/part-000.jsonl", order[:SIZES["copy_warm_rows"]]))
    for name, rows in chunks:
        with open(f"{out}/{name}", "w") as fh:
            fh.writelines(
                f'{{"l_orderkey":{c["l_orderkey"][i]},'
                f'"l_partkey":{c["l_partkey"][i]},'
                f'"l_suppkey":{c["l_suppkey"][i]},'
                f'"l_linenumber":{c["l_linenumber"][i]},'
                f'"l_quantity":{c["l_quantity"][i]!r},'
                f'"l_extendedprice":{c["l_extendedprice"][i]!r},'
                f'"l_discount":{c["l_discount"][i]!r},'
                f'"l_tax":{c["l_tax"][i]!r},'
                f'"l_returnflag":"{c["l_returnflag"][i]}",'
                f'"l_linestatus":"{c["l_linestatus"][i]}",'
                f'"l_shipdate":"{c["l_shipdate"][i]}"}}\n'
                for i in rows)
    # the composite key (orderkey, linenumber) repeats in random data: the
    # upsert target holds one row per key, the parquet sink every row
    hot = li["l_extendedprice"] > HOT_PRICE
    hot_keys = set(zip(li["l_orderkey"][hot].tolist(),
                       li["l_linenumber"][hot].tolist()))

    # change log: inserts create fresh keys, updates/deletes hit live keys
    # with a hot-key skew; shares are seeded per run
    shares = rng.dirichlet([5.0, 3.0, 1.5])
    vocab = vocabulary(rng, 120)
    state = {}
    live = []
    next_id = 1
    pos = 4
    epochs = SIZES["tail_epochs"]
    per_epoch = SIZES["tail_rows_per_epoch"]
    types = ["view", "click", "purchase", "signup", "error"]
    inserts_per_epoch = []
    os.makedirs(f"{out}/binlog-staged", exist_ok=True)
    for e in range(epochs):
        lines = []
        n_ins = 0
        for _ in range(per_epoch):
            kind = rng.choice(3, p=shares) if live else 0
            if kind == 0:
                key = next_id
                next_id += 1
                row = [key, int(rng.integers(1, 5000)),
                       types[int(rng.integers(0, 5))],
                       round(float(rng.uniform(0, 500)), 2),
                       " ".join(rng.choice(vocab, size=int(rng.integers(3, 9))))]
                state[key] = row
                live.append(key)
                n_ins += 1
                ev = ("WRITE_ROWS_EVENTv2", [row])
            else:
                # hot-key skew: Zipf rank over the live keys, newest hottest
                rank = min(int(rng.zipf(1.3)) - 1, len(live) - 1)
                idx = len(live) - 1 - rank
                key = live[idx]
                before = state[key]
                if kind == 1:
                    after = list(before)
                    after[3] = round(float(rng.uniform(0, 500)), 2)
                    after[2] = types[int(rng.integers(0, 5))]
                    state[key] = after
                    ev = ("UPDATE_ROWS_EVENTv2", [before, after])
                else:
                    del state[key]
                    live[idx] = live[-1]
                    live.pop()
                    ev = ("DELETE_ROWS_EVENTv2", [before])
            pos += 1
            lines.append({"type": ev[0], "schema": "db", "table": "events",
                          "pos": pos, "ts": 1700000000 + pos,
                          "rows": [[str(c) for c in r] for r in ev[1]]})
        inserts_per_epoch.append(n_ins)
        write_json_lines(f"{out}/binlog-staged/{e:04d}.jsonl", lines)
    final = sorted(state.values())
    write_json_lines(f"{out}/expected_events.jsonl", final)
    return {
        "copy_rows": n,
        "copy_files": SIZES["copy_files"],
        "copy_schema": COPY_SCHEMA,
        "hot_price": HOT_PRICE,
        "expect_lake_rows": n,
        "expect_hot_rows": len(hot_keys),
        "tail_epochs": epochs,
        "tail_rows": epochs * per_epoch,
        "tail_columns": TAIL_COLUMNS,
        "op_shares": [round(float(s), 4) for s in shares],
        "expect_events_rows": len(final),
        "expect_index_docs": int(sum(inserts_per_epoch)),
    }


# ---------------------------------------------------------------- probe

def gen_probe_script(rng, out, docs, vocab, vecs):
    """The client's script over the curate corpus: BM25 probes (1-4 Zipf
    terms, so rare and common terms mix) alternating with ANN probes (a
    corpus vector plus noise), and the ingest epochs: perturbed documents
    and vectors under fresh ids."""
    p = zipf_weights(len(vocab))
    probes = []
    qid = 2_000_000
    for i in range(SIZES["probe_ops"]):
        if i % 2 == 0:
            terms = rng.choice(vocab, size=int(rng.integers(1, 5)), p=p)
            probes.append({"op": "bm25", "qid": qid, "text": " ".join(terms)})
        else:
            v = vecs[int(rng.integers(0, len(vecs)))]
            v = (v + rng.normal(0, 0.02, VECTOR_DIM)).astype(np.float32)
            probes.append({"op": "ann", "qid": qid,
                           "vec": [float(x) for x in v]})
        qid += 1
    write_json_lines(f"{out}/probes.jsonl", probes)
    n_ing = SIZES["ingest_docs"]
    next_id = 1_000_000
    ingests = []
    for _ in range(SIZES["ingest_epochs"]):
        new_docs = []
        for s in rng.integers(0, len(docs), size=n_ing):
            toks = docs[s].split(" ")
            toks[int(rng.integers(0, len(toks)))] = str(rng.choice(vocab, p=p))
            new_docs.append({"doc_id": next_id + len(new_docs),
                             "text": " ".join(toks)})
        new_vecs = [{"vec_id": next_id + j, "vec": [float(x) for x in (
            vecs[s] + rng.normal(0, 0.05, VECTOR_DIM)).astype(np.float32)]}
            for j, s in enumerate(rng.integers(0, len(vecs), size=n_ing))]
        next_id += n_ing
        ingests.append({"docs": new_docs, "vecs": new_vecs})
    write_json_lines(f"{out}/ingests.jsonl", ingests)
    return {"probes": len(probes), "ingest_epochs": len(ingests),
            "ingest_docs": n_ing, "build_epochs": SIZES["probe_build_epochs"],
            "dim": VECTOR_DIM}


# ---------------------------------------------------------------- curate

def gen_curate(rng, out):
    s = SIZES
    t = f"{out}/tables"
    os.makedirs(t, exist_ok=True)
    write_parquet(f"{t}/region.parquet", {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write_parquet(f"{t}/nation.parquet", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION{i:02d}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    nc, no, ns, npart = s["customer"], s["orders"], s["supplier"], s["part"]
    write_parquet(f"{t}/customer.parquet", {
        "c_custkey": np.arange(1, nc + 1, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(1, nc + 1)],
        "c_nationkey": rng.integers(0, 25, size=nc).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, size=nc), 2),
        "c_mktsegment": [str(x) for x in rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            size=nc)]})
    write_parquet(f"{t}/supplier.parquet", {
        "s_suppkey": np.arange(1, ns + 1, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, ns + 1)],
        "s_nationkey": rng.integers(0, 25, size=ns).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, size=ns), 2)})
    write_parquet(f"{t}/part.parquet", {
        "p_partkey": np.arange(1, npart + 1, dtype=np.int64),
        "p_name": [f"part {i}" for i in range(1, npart + 1)],
        "p_brand": [f"Brand#{x}" for x in rng.integers(11, 56, size=npart)],
        "p_type": [str(x) for x in rng.choice(
            ["STANDARD BRASS", "SMALL STEEL", "PROMO TIN", "LARGE COPPER"],
            size=npart)],
        "p_size": rng.integers(1, 51, size=npart).astype(np.int32),
        "p_retailprice": np.round(rng.uniform(900, 2000, size=npart), 2)})
    days = rng.integers(0, 365 * 7, size=no)
    write_parquet(f"{t}/orders.parquet", {
        "o_orderkey": np.arange(1, no + 1, dtype=np.int64),
        "o_custkey": rng.integers(1, nc + 1, size=no).astype(np.int64),
        "o_orderstatus": [str(x) for x in rng.choice(["F", "O", "P"], size=no)],
        "o_totalprice": np.round(rng.uniform(800, 500000, size=no), 2),
        "o_orderdate": (np.datetime64("1992-01-01") +
                        days.astype("timedelta64[D]")).astype("datetime64[us]"),
        "o_orderpriority": [str(x) for x in rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            size=no)]})
    write_parquet(f"{t}/lineitem.parquet",
                  gen_lineitem(rng, s["lineitem"], no, npart, ns))
    ne = s["events"]
    secs = np.sort(rng.integers(0, 86400 * 30, size=ne))
    write_parquet(f"{t}/events.parquet", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": (np.datetime64("2024-01-01T00:00:00") +
               (secs * 1_000_000 + rng.integers(0, 1_000_000, size=ne))
               .astype("timedelta64[us]")),
        "user_id": rng.integers(0, 2000, size=ne).astype(np.int64),
        "event_type": [str(x) for x in rng.choice(
            ["view", "click", "purchase", "signup", "error"], size=ne)],
        "value": np.round(rng.uniform(0, 200, size=ne), 2),
        "props": [json.dumps({"k": int(k)}) for k in
                  rng.integers(0, 100, size=ne)]})
    vocab = vocabulary(rng)
    docs = gen_documents(rng, s["documents"], vocab)
    write_parquet(f"{t}/documents.parquet", docs)
    vids, vecs, labels = gen_vectors(
        rng, s["embeddings"], rng.normal(0, 0.2, size=(10, VECTOR_DIM)))
    write_parquet(f"{t}/embeddings.parquet", {
        "vec_id": vids,
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels})
    sizes = {k: s[k] for k in ("lineitem", "orders", "customer", "supplier",
                               "part", "events", "documents", "embeddings")}
    return {**sizes, **gen_probe_script(rng, out, docs["text"], vocab, vecs)}


GENERATORS = {"sync": gen_sync, "probe-curate": gen_curate}


def generate(workload, seed, out):
    """Write the workload's inputs under `out`; return the manifest."""
    os.makedirs(out, exist_ok=True)
    # one stream per workload, keyed by (seed, workload name)
    key = [seed] + [ord(c) for c in workload]
    rng = np.random.Generator(np.random.PCG64(key))
    manifest = {"workload": workload, "seed": seed,
                **GENERATORS[workload](rng, out)}
    total = 0
    for root, _, files in os.walk(out):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    manifest["input_mb"] = round(total / 2**20, 3)
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


if __name__ == "__main__":
    if len(sys.argv) != 4 or sys.argv[1] not in GENERATORS:
        sys.exit("usage: gen.py {sync|probe-curate} <seed> <out_dir>")
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
