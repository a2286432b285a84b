"""Seeded input generator for the benchmark.

Writes every input one workload's program run sees, and nothing else,
under one directory:

  ingest_stream  ingest/documents.parquet         corpus + arrivals (fixture `documents` schema)
                 ingest/arrivals/NNNN.parquet     one file per stream batch (arrival rows)
  pipe_cranker   pipe/part-NNNN.txt               payload, one "doc_id<TAB>text" line each

The same seed gives byte-identical files: rows come from
`random.Random(f"{seed}/{workload}")`, and DuckDB writes each parquet
file from one thread in doc_id order.

Usage: python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import hashlib
import os
import random
import sys

# Input sizes; every workload's set-up and per-op cost scales with these.
SIZES = {
    "ingest_batches": 2,
    "ingest_batch_docs": 250,
    "pipe_files": 8,
    "pipe_lines_per_file": 12000,
}

LANGS = ["en", "en", "en", "es", "de", "fr", "zh"]
STOPWORDS = {
    "en": ["the", "a", "of"],
    "es": ["el", "la", "de"],
    "de": ["der", "und", "das"],
    "fr": ["le", "et", "les"],
    "zh": [],
}
N_SOURCES = 20
# Arrivals are the doc_id % 11 == 5 rows: the incremental-curation oracle
# replays exactly those as the stream's batches.
ARRIVAL_MOD, ARRIVAL_REM = 11, 5


def _vocab(rng, n=600):
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters) for _ in range(rng.randint(3, 8))))
    return sorted(words)


def _docs(rng, n, vocab):
    """n rows of (doc_id, text, lang, source, n_chars). 4% of docs copy an
    earlier doc's text exactly and 4% copy one with two words replaced.
    Which docs are copies is fixed by doc_id, so every seed gives dedup
    the same amount of work; the seed picks the words."""
    rows = []
    for doc_id in range(n):
        lang = rng.choice(LANGS)
        if doc_id % 25 == 7 and doc_id > 25:
            text = rows[doc_id - 13][1]
        elif doc_id % 25 == 19:
            words = rows[doc_id - 17][1].split(" ")
            for _ in range(2):
                words[rng.randrange(len(words))] = rng.choice(vocab)
            text = " ".join(words)
        else:
            k = rng.randint(20, 90)
            words = rng.choices(vocab, k=k)
            sw = STOPWORDS[lang]
            if sw:
                for i in rng.sample(range(k), k // 7):
                    words[i] = rng.choice(sw)
            text = " ".join(words)
        rows.append((doc_id, text, lang, f"src{doc_id % N_SOURCES}", len(text)))
    return rows


def _write_parquet(con, rows, path, tsv):
    with open(tsv, "w", encoding="utf-8") as f:
        for r in rows:
            f.write("\t".join(str(v) for v in r) + "\n")
    con.execute(
        f"""COPY (SELECT * FROM read_csv('{tsv}', delim='\t', header=false, quote='',
              escape='', columns={{'doc_id': 'BIGINT', 'text': 'VARCHAR', 'lang': 'VARCHAR',
              'source': 'VARCHAR', 'n_chars': 'BIGINT'}}) ORDER BY doc_id)
            TO '{path}' (FORMAT PARQUET)""")
    os.remove(tsv)


def arrival_batch(doc_id, n_batches):
    """Batch of an arrival row: arrival ordinals interleave across batches,
    so the oracle's planted cross-batch twins land in different batches."""
    return (doc_id // ARRIVAL_MOD) % n_batches


def generate(workload, seed, out, sizes=SIZES):
    """Write `workload`'s inputs for `seed` under `out`; return their manifest."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads = 1")
    rng = random.Random(f"{seed}/{workload}")
    vocab = _vocab(rng)

    if workload == "ingest_stream":
        nb = sizes["ingest_batches"]
        rows = _docs(rng, ARRIVAL_MOD * nb * sizes["ingest_batch_docs"], vocab)
        os.makedirs(f"{out}/ingest/arrivals", exist_ok=True)
        _write_parquet(con, rows, f"{out}/ingest/documents.parquet", f"{out}/ingest/.rows.tsv")
        for k in range(nb):
            batch = [r for r in rows if r[0] % ARRIVAL_MOD == ARRIVAL_REM
                     and arrival_batch(r[0], nb) == k]
            _write_parquet(con, batch, f"{out}/ingest/arrivals/{k:04d}.parquet",
                           f"{out}/ingest/.batch.tsv")
    elif workload == "pipe_cranker":
        os.makedirs(f"{out}/pipe", exist_ok=True)
        n = sizes["pipe_lines_per_file"]
        for p in range(sizes["pipe_files"]):
            with open(f"{out}/pipe/part-{p:04d}.txt", "w", encoding="utf-8") as f:
                f.writelines(f"{p * n + i}\t{' '.join(rng.choices(vocab, k=rng.randint(20, 90)))}\n"
                             for i in range(n))
    else:
        raise ValueError(f"unknown workload {workload}")
    con.close()
    return manifest(out)


def manifest(out):
    """sha256 of every generated file, keyed by path relative to `out`."""
    digests = {}
    for root, _, files in os.walk(out):
        for name in sorted(files):
            path = os.path.join(root, name)
            with open(path, "rb") as f:
                digests[os.path.relpath(path, out)] = hashlib.sha256(f.read()).hexdigest()
    return dict(sorted(digests.items()))


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    for rel, digest in generate(sys.argv[1], int(sys.argv[2]), sys.argv[3]).items():
        print(digest, rel)
