"""Seeded inputs for the benchmark workloads.

Two kinds of input directory, both laid out like the engine's fixture
directories (one `<table>.parquet` per table name `graft.Graft` loads):

* `write_corpus`: the MapReduce reference workflow's input, a Zipf text
  corpus written both as whole files `files/doc_<id>` and as a twin
  `documents.parquet` whose `text` column holds the same bytes.
* `write_fixture`: a documents table shaped like the engine's sf fixtures
  (30-word uniform vocabulary, 10..100 words per document, 5% near-duplicates
  that append " dup" to an earlier document, a few exact duplicates), for the
  dedup and connected-components gates.

Tables the workloads never read are written empty with the fixture schema,
because the session facade registers every table as a view.

The same arguments give byte-identical files.
"""
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

# Schemas of the tables the facade registers but no benchmark gate reads.
STUB_TABLES = {
    "region": [("r_regionkey", pa.int32()), ("r_name", pa.string())],
    "nation": [("n_nationkey", pa.int32()), ("n_name", pa.string()),
               ("n_regionkey", pa.int32())],
    "customer": [("c_custkey", pa.int64()), ("c_name", pa.string()),
                 ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                 ("c_mktsegment", pa.string())],
    "supplier": [("s_suppkey", pa.int64()), ("s_name", pa.string()),
                 ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())],
    "orders": [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
               ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
               ("o_orderdate", pa.timestamp("us")),
               ("o_orderpriority", pa.string())],
    "lineitem": [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                 ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                 ("l_quantity", pa.float64()),
                 ("l_extendedprice", pa.float64()),
                 ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                 ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                 ("l_shipdate", pa.timestamp("us"))],
    "events": [("event_id", pa.int64()), ("ts", pa.timestamp("us")),
               ("user_id", pa.int64()), ("event_type", pa.string()),
               ("value", pa.float64()), ("props", pa.string())],
    "embeddings": [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                   ("label", pa.int32())],
    "part": [("p_partkey", pa.int64()), ("p_name", pa.string()),
             ("p_brand", pa.string()), ("p_type", pa.string()),
             ("p_size", pa.int32()), ("p_retailprice", pa.float64())],
}

DOC_SCHEMA = [("doc_id", pa.int64()), ("text", pa.string()),
              ("lang", pa.string()), ("source", pa.string()),
              ("n_chars", pa.int64())]

FIXTURE_WORDS = ("spark window merge table column vector stream value data "
                 "small join filter big group hash customer sort order slow "
                 "line part fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_WEIGHTS = [41, 15, 14, 15, 15]

# Letters for the corpus vocabulary: ASCII plus non-ASCII letters, so the
# tokenizer's Unicode-letter rule is exercised on every run.
LETTERS = list("abcdefghijklmnopqrstuvwxyz") + list("åäöéèüßñçøæ") \
    + list("ΑΒΓαβγδλμπσω") + list("жзилмнпрст")
HEAD = 100
SEPARATORS = [" "] * 12 + ["\n"] * 3 + [", ", ". ", " - ", "; ", "7", " 42 ",
                                        "(", ") ", "'", "0-1 ", "!\n"]


def _write(path, schema, rows):
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    table = pa.table({name: pa.array(list(c), type=t)
                      for (name, t), c in zip(schema, cols)})
    pq.write_table(table, path, compression="snappy")


def _write_stubs(out):
    for name, schema in STUB_TABLES.items():
        _write(os.path.join(out, f"{name}.parquet"), schema, [])


def _docs_rows(texts, rng):
    langs = rng.choices(LANGS, weights=LANG_WEIGHTS, k=len(texts))
    return [(i, t, langs[i], f"src{i % 20}", len(t))
            for i, t in enumerate(texts)]


def fixture_texts(n_docs, rng):
    texts = []
    for i in range(n_docs):
        r = rng.random()
        if i > 0 and r < 0.05:
            texts.append(texts[rng.randrange(i)] + " dup")
        elif i > 0 and r < 0.052:
            texts.append(texts[rng.randrange(i)])
        else:
            texts.append(" ".join(rng.choices(FIXTURE_WORDS,
                                              k=rng.randint(10, 100))))
    return texts


def zipf_vocabulary(size, rng):
    """Distinct random words, the one of rank r having 2 + r % 8 letters, so
    that the corpus size hardly depends on the seed. The HEAD most frequent
    words are the same for every seed: which reducer their value lists hash
    to sets the straggler, and a seed should not move it."""
    head = random.Random(0)
    seen, words = set(), []
    while len(words) < size:
        r = head if len(words) < HEAD else rng
        w = "".join(r.choices(LETTERS, k=2 + len(words) % 8))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def corpus_texts(seed, n_files, words_per_file, vocab_size, zipf_s=1.05):
    """File contents of the MapReduce corpus: Zipf-distributed words joined
    by letter-free separators; every 50th file is empty and every 50th
    holds only digits and punctuation."""
    rng = random.Random(seed)
    vocab = zipf_vocabulary(vocab_size, rng)
    acc, cum = 0.0, []
    for rank in range(1, vocab_size + 1):
        acc += 1.0 / rank ** zipf_s
        cum.append(acc)
    texts = []
    for i in range(n_files):
        if i % 50 == 7:
            texts.append("")
        elif i % 50 == 23:
            texts.append(" 12, 34.\n-- 56 (78) !\n" * rng.randint(1, 20))
        else:
            words = rng.choices(vocab, cum_weights=cum, k=words_per_file)
            seps = rng.choices(SEPARATORS, k=words_per_file)
            texts.append("".join(w + s for w, s in zip(words, seps)))
    return texts


def _fresh(out):
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    return tmp


def write_corpus(out, seed, n_files, words_per_file, vocab_size):
    """Write the corpus as files/doc_<id> plus its documents.parquet twin."""
    tmp = _fresh(out)
    rng = random.Random(seed + 1)
    texts = corpus_texts(seed, n_files, words_per_file, vocab_size)
    os.makedirs(os.path.join(tmp, "files"))
    for i, t in enumerate(texts):
        with open(os.path.join(tmp, "files", f"doc_{i}"), "w",
                  encoding="utf-8", newline="") as f:
            f.write(t)
    _write(os.path.join(tmp, "documents.parquet"), DOC_SCHEMA,
           _docs_rows(texts, rng))
    _write_stubs(tmp)
    os.replace(tmp, out)


def write_fixture(out, seed, n_docs):
    """Write the documents fixture for the dedup and CC gates."""
    tmp = _fresh(out)
    rng = random.Random(seed)
    texts = fixture_texts(n_docs, rng)
    _write(os.path.join(tmp, "documents.parquet"), DOC_SCHEMA,
           _docs_rows(texts, rng))
    _write_stubs(tmp)
    os.replace(tmp, out)


def input_mb(path):
    """Size of everything in an input directory, in MB."""
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs) / 1e6
