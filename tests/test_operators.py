"""Operator-level tests: dedup recall/precision on planted duplicates,
similarity search vs brute force, multimodal batch plumbing, streaming
windows end-to-end."""

import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tsdisagg_spark.operators import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    """Corpus with planted near-duplicates: doc 100/101 differ by one word,
    102 is an exact copy of 100, the rest are random-ish distinct docs."""
    base = (
        "the quick brown fox jumps over the lazy dog while the cat watches "
        "from the warm windowsill in the afternoon sun"
    )
    rows = [
        (100, base),
        (101, base.replace("afternoon", "morning")),
        (102, base),
        (103, "completely different text about spark query engines and shuffles"),
        (104, "yet another unrelated document mentioning joins aggregates windows"),
    ]
    for i in range(40):
        rows.append((200 + i, f"filler document number {i} with unique content token{i} extra{i}"))
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def test_exact_dedup(docs):
    groups = dedup.exact_groups(docs, key_cols=["text"]).toPandas()
    dup_groups = groups[groups.group_size > 1]
    assert len(dup_groups) == 1
    assert dup_groups.iloc[0]["keep_id"] == 100
    assert dup_groups.iloc[0]["group_size"] == 2


def test_jaccard_pairs_finds_planted_dups(docs):
    pairs = dedup.jaccard_pairs(docs, threshold=0.5).toPandas()
    found = {tuple(r) for r in pairs[["id_a", "id_b"]].to_numpy()}
    assert (100, 102) in found  # exact copy -> jaccard 1.0
    assert (100, 101) in found  # one-word edit -> high jaccard
    exact = pairs[(pairs.id_a == 100) & (pairs.id_b == 102)]
    assert exact["jaccard"].iloc[0] == 1.0


def test_containment_catches_quoted_document(spark):
    """The contamination shape symmetric Jaccard misses: a short document
    quoted verbatim inside a much longer one must score containment 1.0 in
    the sub->super direction and well below 1 in reverse."""
    quote = "alpha beta gamma delta epsilon zeta eta theta"
    wrapper = (
        "intro words before the quoted passage begins now "
        + quote
        + " and then many further unrelated trailing words continue on "
        "about completely different topics for a while longer here"
    )
    df = spark.createDataFrame(
        pd.DataFrame([(1, quote), (2, wrapper)], columns=["doc_id", "text"])
    )
    got = {
        (r["id_sub"], r["id_super"]): r["containment"]
        for r in dedup.containment_pairs(df, n=3, threshold=0.0).collect()
    }
    assert got[(1, 2)] == 1.0  # every shingle of the quote is in the wrapper
    assert got[(2, 1)] < 0.35  # the wrapper is NOT contained in the quote
    # symmetric jaccard on the same pair sits at the reverse-containment
    # level — below any threshold that would still find real near-dups
    jac = dedup.jaccard_pairs(df, n=3, threshold=0.0).collect()
    assert jac[0]["jaccard"] < 0.35


def test_containment_pairs_property_vs_python(spark):
    """Randomized corpora vs a pure-Python shingle-set reference: both
    directions of every pair, exact rounded scores, df cap off."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    vocab = [f"w{i}" for i in range(12)]

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        docs=st.lists(
            st.lists(st.sampled_from(vocab), min_size=3, max_size=20),
            min_size=2,
            max_size=10,
        ),
        threshold=st.sampled_from([0.2, 0.5]),
    )
    def check(docs, threshold):
        rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
        df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
        got = {
            (r["id_sub"], r["id_super"]): r["containment"]
            for r in dedup.containment_pairs(
                df, n=3, threshold=threshold
            ).collect()
        }
        sets = {
            i: {" ".join(ws[j : j + 3]) for j in range(max(len(ws) - 2, 0))}
            for i, ws in enumerate(docs)
        }
        want = {}
        for a in sets:
            for b in sets:
                if a != b and sets[a] and sets[b]:
                    c = round(len(sets[a] & sets[b]) / len(sets[a]), 6)
                    if c >= threshold:
                        want[(a, b)] = c
        assert got == want

    check()


def test_tfidf_cosine_matches_brute_force(spark):
    """tfidf_cosine_pairs equals the dense numpy tf-idf cosine on a tiny
    corpus (cap off), and scores a word-REORDERED copy at exactly 1.0 —
    the case every shingle method misses."""
    corpus = [
        (1, "spark shuffles data between executors during wide operations"),
        (2, "operations wide during executors between data shuffles spark"),
        (3, "ducks swim on the quiet pond near the old mill"),
        (4, "spark executors exchange data during shuffle operations quickly"),
    ]
    df = spark.createDataFrame(pd.DataFrame(corpus, columns=["doc_id", "text"]))
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in text.tfidf_cosine_pairs(df, threshold=0.0).collect()
    }
    # reordered copy: identical bag of words -> cosine exactly 1
    assert got[(1, 2)] == 1.0
    # ...while 3-shingle jaccard sees nothing shared
    jac = {
        (r["id_a"], r["id_b"])
        for r in dedup.jaccard_pairs(df, n=3, threshold=0.01).collect()
    }
    assert (1, 2) not in jac
    # brute-force reference
    import math
    from collections import Counter

    toks = {i: t.split() for i, t in corpus}
    n_docs = len(corpus)
    dft = Counter(w for ws in toks.values() for w in set(ws))
    vecs = {
        i: {w: c * math.log(n_docs / dft[w]) for w, c in Counter(ws).items()}
        for i, ws in toks.items()
    }
    for (a, b), cs in got.items():
        dot = sum(vecs[a][w] * vecs[b].get(w, 0.0) for w in vecs[a])
        na = math.sqrt(sum(v * v for v in vecs[a].values()))
        nb = math.sqrt(sum(v * v for v in vecs[b].values()))
        assert abs(cs - dot / (na * nb)) < 2e-6, (a, b)


def test_bm25_matches_brute_force(spark):
    """bm25_search equals a from-scratch BM25 (Lucene idf) on a tiny
    corpus: scores, ranking, top-k cut, and doc_id tie-breaks."""
    import math
    from collections import Counter

    corpus = [
        (1, "hash join builds a table from the small side"),
        (2, "sort merge join shuffles both sides by the join key"),
        (3, "a window function scans rows within its frame"),
        (4, "ducks swim on the quiet pond"),
        (5, "broadcast hash join avoids the shuffle of the big side"),
        (6, "hash hash hash join join scan"),
    ]
    df = spark.createDataFrame(pd.DataFrame(corpus, columns=["doc_id", "text"]))
    terms = ["hash", "join", "scan"]
    got = [
        (r["doc_id"], r["score"], r["rank"])
        for r in text.bm25_search(df, terms, k=3).collect()
    ]

    k1, b = 1.2, 0.75
    toks = {i: t.split() for i, t in corpus}
    n = len(corpus)
    avgdl = sum(len(ws) for ws in toks.values()) / n
    dft = Counter(w for ws in toks.values() for w in set(ws) if w in terms)
    scores = {}
    for i, ws in toks.items():
        tf = Counter(w for w in ws if w in terms)
        s = 0.0
        for w, f in tf.items():
            idf = math.log(1.0 + (n - dft[w] + 0.5) / (dft[w] + 0.5))
            s += idf * f * (k1 + 1) / (f + k1 * (1 - b + b * len(ws) / avgdl))
        if tf:
            scores[i] = round(s, 6)
    want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    assert [(d, s) for d, s, _ in got] == want
    assert [r for _, _, r in got] == [1, 2, 3]
    # docs without any query term never appear even with a huge k
    all_ids = {r["doc_id"] for r in text.bm25_search(df, terms, k=100).collect()}
    assert 4 not in all_ids and all_ids == set(scores)


def test_tfidf_cosine_df_cap_is_closed_semantic(spark):
    """With max_doc_freq set, capped-out terms contribute to NEITHER dots
    NOR norms: the result equals brute force over the surviving vocabulary
    only (a lossy-shortcut implementation that kept full norms would score
    lower)."""
    import math
    from collections import Counter

    corpus = [
        (1, "common common alpha beta gamma"),
        (2, "common common alpha beta delta"),
        (3, "common epsilon zeta eta theta"),
    ]
    df = spark.createDataFrame(pd.DataFrame(corpus, columns=["doc_id", "text"]))
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in text.tfidf_cosine_pairs(df, threshold=0.0, max_doc_freq=2).collect()
    }
    toks = {i: t.split() for i, t in corpus}
    dft = Counter(w for ws in toks.values() for w in set(ws))
    vecs = {
        i: {
            w: c * math.log(len(corpus) / dft[w])
            for w, c in Counter(ws).items()
            if dft[w] <= 2  # 'common' (df=3) is OUT of the vocabulary
        }
        for i, ws in toks.items()
    }
    for (a, b), cs in got.items():
        dot = sum(vecs[a][w] * vecs[b].get(w, 0.0) for w in vecs[a])
        na = math.sqrt(sum(v * v for v in vecs[a].values()))
        nb = math.sqrt(sum(v * v for v in vecs[b].values()))
        assert abs(cs - dot / (na * nb)) < 2e-6, (a, b)


def test_minhash_agrees_with_exact_jaccard(docs):
    mh = dedup.minhash_pairs(docs, num_hashes=32, bands=16, threshold=0.5).toPandas()
    found = {tuple(r) for r in mh[["id_a", "id_b"]].to_numpy()}
    assert (100, 102) in found
    assert (100, 101) in found
    # verification step guarantees no false positives below threshold
    assert (mh["jaccard"] >= 0.5).all()


def test_minhash_probe_incremental_contract(docs, tmp_path):
    """The index/probe pair: a batch near-dup of an indexed document is
    found with its exact jaccard; batch-vs-batch and self (re-ingest)
    pairs are never emitted; and the parquet-persisted index produces the
    identical probe result (the durable-index determinism contract)."""
    corpus = docs  # docs 100..102 contain the planted near-dup cluster
    spark = docs.sparkSession
    batch = spark.createDataFrame(
        pd.DataFrame(
            [
                # near-copy of corpus doc 100 (one-word edit)
                (900, "the quick brown fox jumps over the lazy dog while the "
                      "cat watches from the warm windowsill in the evening sun"),
                # re-ingest of corpus doc 103, same id: self-pair must be dropped
                (103, "completely different text about spark query engines and shuffles"),
                # two batch docs that are near-dups of EACH OTHER only
                (901, "batch only content alpha beta gamma delta epsilon zeta"),
                (902, "batch only content alpha beta gamma delta epsilon eta"),
            ],
            columns=["doc_id", "text"],
        )
    )
    index = dedup.minhash_band_index(corpus, num_hashes=32, bands=16)
    got = dedup.minhash_probe(
        batch, index, corpus, num_hashes=32, bands=16, threshold=0.2
    ).toPandas()
    pairs = {tuple(r) for r in got[["batch_id", "corpus_id"]].to_numpy()}
    assert (900, 100) in pairs and (900, 102) in pairs  # 102 = copy of 100
    assert all(b != c for b, c in pairs), "self pair leaked"
    assert not any(b in (901, 902) and c in (901, 902) for b, c in pairs), (
        "batch-vs-batch pair leaked"
    )
    # exact verification: jaccard equals the brute-force cross value
    jac = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.jaccard_pairs(
            corpus.unionByName(batch.filter(F.col("doc_id") == 900)),
            threshold=0.2,
        ).collect()
    }
    want_900_100 = jac[(100, 900)]
    got_900_100 = got[(got.batch_id == 900) & (got.corpus_id == 100)][
        "jaccard"
    ].iloc[0]
    assert got_900_100 == want_900_100
    # durable index: parquet round-trip, probe again, identical result
    path = str(tmp_path / "band_index.parquet")
    index.write.mode("overwrite").parquet(path)
    reloaded = spark.read.parquet(path)
    got2 = dedup.minhash_probe(
        batch, reloaded, corpus, num_hashes=32, bands=16, threshold=0.2
    ).toPandas()
    key = ["batch_id", "corpus_id"]
    assert (
        got.sort_values(key).reset_index(drop=True).equals(
            got2.sort_values(key).reset_index(drop=True)
        )
    )


def test_minhash_index_bucketed_join_skips_index_shuffle(docs, tmp_path):
    """The docstring's 100 TB claim, made testable: an index saved
    bucketed on the probe's join key (band, band_hash) joins WITHOUT
    shuffling the index side — the candidate join's plan has strictly
    fewer exchanges than against the identical unbucketed index, and the
    probe results are identical.  (Broadcast disabled so the tiny test
    corpus exercises the sort-merge path a real index size would take.)"""
    spark = docs.sparkSession
    index = dedup.minhash_band_index(docs, num_hashes=32, bands=16)
    batch = spark.createDataFrame(
        pd.DataFrame(
            [(900, "the quick brown fox jumps over the lazy dog while the "
                   "cat watches from the warm windowsill in the evening sun")],
            columns=["doc_id", "text"],
        )
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        (
            index.write.mode("overwrite")
            .bucketBy(8, "band", "band_hash")
            .sortBy("band", "band_hash")
            .option("path", str(tmp_path / "bucketed_idx"))
            .saveAsTable("bucketed_band_index")
        )
        bucketed = spark.table("bucketed_band_index")
        plain_path = str(tmp_path / "plain_idx")
        index.write.mode("overwrite").parquet(plain_path)
        plain = spark.read.parquet(plain_path)

        def n_exchanges(df):
            return df._jdf.queryExecution().executedPlan().toString().count(
                "Exchange"
            )

        got_b = dedup.minhash_probe(
            batch, bucketed, docs, num_hashes=32, bands=16, threshold=0.2
        )
        got_p = dedup.minhash_probe(
            batch, plain, docs, num_hashes=32, bands=16, threshold=0.2
        )
        rows_b = sorted(map(tuple, got_b.collect()))
        rows_p = sorted(map(tuple, got_p.collect()))
        assert rows_b == rows_p and rows_b  # same matches, non-empty
        assert n_exchanges(got_b) < n_exchanges(got_p), (
            "bucketed index did not remove the index-side shuffle"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bucketed_band_index")


def test_rowwise_signatures_equal_batch_signatures(docs):
    """The shuffle-free per-row MinHash formulation must produce the
    IDENTICAL signature values as the batch groupBy-min formulation —
    same min over the same hashed shingle set — including dropping
    docs with no shingles."""
    from tsdisagg_spark.streaming import rowwise_minhash_signatures

    a = {
        r["doc_id"]: list(r["sig"])
        for r in dedup.minhash_signatures(docs, num_hashes=16).collect()
    }
    b = {
        r["doc_id"]: list(r["sig"])
        for r in rowwise_minhash_signatures(docs, num_hashes=16).collect()
    }
    assert a == b and a


def test_stream_probe_matches_batch_probe(docs, tmp_path):
    """End-to-end streaming ingest dedup: a parquet-source document
    stream probed against the static band index, verified per micro-batch
    in foreachBatch, must produce exactly the batch minhash_probe result
    on the same batch/corpus split."""
    from tsdisagg_spark.streaming import (
        stream_probe_candidates,
        verify_probe_candidates,
    )

    spark = docs.sparkSession
    corpus = docs
    batch_rows = [
        (900, "the quick brown fox jumps over the lazy dog while the "
              "cat watches from the warm windowsill in the evening sun"),
        (901, "entirely new content nothing like the corpus at all here"),
        (902, "completely different text about spark query engines and shuffles"),
    ]
    batch_pdf = pd.DataFrame(batch_rows, columns=["doc_id", "text"])
    batch_static = spark.createDataFrame(batch_pdf)
    src = str(tmp_path / "doc_stream")
    batch_static.write.parquet(src)

    index = dedup.minhash_band_index(corpus, num_hashes=32, bands=16)

    # batch twin = the reference result
    want = sorted(
        map(
            tuple,
            dedup.minhash_probe(
                batch_static, index, corpus, num_hashes=32, bands=16,
                threshold=0.2,
            ).collect(),
        )
    )
    assert want  # 900 near-dups corpus 100/102; 902 re-ingests corpus 103's text

    got: list = []

    def sink(cand_batch, _epoch):
        got.extend(
            map(
                tuple,
                verify_probe_candidates(
                    cand_batch, batch_static, corpus, threshold=0.2
                ).collect(),
            )
        )

    stream = spark.readStream.schema(batch_static.schema).parquet(src)
    q = (
        stream_probe_candidates(stream, index, num_hashes=32, bands=16)
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(got) == want


def test_simhash_probe_equals_bruteforce_cross_scan(docs):
    """The SimHash index/probe output is PROVABLY the brute-force
    batch-vs-corpus Hamming scan (pigeonhole recall + exact bit_count
    verification): compare against codes computed once and crossed in
    pandas."""
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    index = dedup.simhash_band_index(corpus, max_hamming=5)
    got = {
        (r["batch_id"], r["corpus_id"]): r["hamming"]
        for r in dedup.simhash_probe(batch, index, max_hamming=5).collect()
    }
    codes = {
        r["doc_id"]: (r["sim_lo"], r["sim_hi"])
        for r in dedup.simhash_md5_120(docs).collect()
    }
    want = {}
    for b, (bl, bh) in codes.items():
        if b % 5 != 0:
            continue
        for c, (cl, ch) in codes.items():
            if c % 5 == 0:
                continue
            d = bin(bl ^ cl).count("1") + bin(bh ^ ch).count("1")
            if d <= 5:
                want[(b, c)] = d
    # batch doc 100's exact copy 102 sits in the corpus: hamming 0 crosses
    assert got == want and want and got[(100, 102)] == 0


def test_simhash_probe_streams_statelessly(docs, tmp_path):
    """dedupe=False makes the probe a fully stateless streaming plan:
    parquet-source stream -> probe -> foreachBatch distinct equals the
    batch probe exactly (verification needs no corpus re-read — the
    hamming comes from codes the index and stream rows already carry)."""
    spark = docs.sparkSession
    batch_rows = [
        (901, "the quick brown fox jumps over the lazy dog while the "
              "cat watches from the warm windowsill in the evening sun"),
        (903, "entirely new content nothing like the corpus at all here"),
    ]
    batch_static = spark.createDataFrame(
        pd.DataFrame(batch_rows, columns=["doc_id", "text"])
    )
    src = str(tmp_path / "sim_stream")
    batch_static.write.parquet(src)
    index = dedup.simhash_band_index(docs, max_hamming=5)
    want = sorted(
        map(tuple, dedup.simhash_probe(batch_static, index).collect())
    )
    assert want  # 901 is a near-dup of the planted 100/102 cluster

    got: list = []

    def sink(pairs, _epoch):
        got.extend(map(tuple, pairs.distinct().collect()))

    stream = spark.readStream.schema(batch_static.schema).parquet(src)
    q = (
        dedup.simhash_probe(stream, index, dedupe=False)
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(got) == want


def test_simhash_md5_120_matches_python_reference(spark):
    """Bit-identity guard for the single-pass Arrow fold (dedup.py
    ``_fold_md5_pair_udf``): recompute BOTH 60-bit halves in pure
    hashlib/int arithmetic — tokenize on ``\\s+`` after trim+lower,
    lo half = first 15 md5 hex chars, hi half = chars 17-31 (1-indexed,
    the same substr(…,1,15)/substr(…,17,15) the DuckDB oracles use),
    majority sign per bit with exact tie -> 0 — and assert equality with
    ``simhash_md5_120().collect()``.  This is the test that would catch a
    ``>>4`` / byte-order / bit-order layout bug in the numpy fold that
    the Spark-vs-Spark self-consistency tests cannot see.  Corpus covers
    the edge shapes: empty text (tokenizes to one empty-string token,
    matching Spark's and DuckDB's regex-split semantics), whitespace-only
    text, a single-token doc (code == that token's hash bits), an
    even-token doc (exercises tie -> 0), repeated tokens, mixed case and
    punctuation, and a long multi-token doc."""
    import hashlib

    rows = [
        (1, ""),
        (2, "   "),
        (3, "solitary"),
        (4, "alpha beta"),
        (5, "alpha alpha alpha beta"),
        (6, "The QUICK brown    Fox, jumps\tover THE lazy dog."),
        (7, " ".join(f"tok{i}" for i in range(257))),
        (8, "alpha beta gamma delta epsilon zeta eta theta"),
    ]

    def ref_code(text):
        toks = re.split(r"\s+", text.strip().lower())
        halves = []
        for sl in (slice(0, 15), slice(16, 31)):
            vals = [int(hashlib.md5(t.encode()).hexdigest()[sl], 16) for t in toks]
            code = 0
            for k in range(60):
                ones = sum((v >> k) & 1 for v in vals)
                if 2 * ones > len(vals):  # strict majority; tie -> 0
                    code |= 1 << k
            halves.append(code)
        return tuple(halves)

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["sim_lo"], r["sim_hi"])
        for r in dedup.simhash_md5_120(df).collect()
    }
    want = {i: ref_code(t) for i, t in rows}
    assert got == want
    # the single-token doc's code IS its token's hash bits (no fold slack)
    h3 = hashlib.md5(b"solitary").hexdigest()
    assert got[3] == (int(h3[0:15], 16), int(h3[16:31], 16))


def test_simhash_near_dups(docs):
    pairs = dedup.simhash_pairs(docs, max_hamming=8, n_bands=16).toPandas()
    found = {tuple(r) for r in pairs[["id_a", "id_b"]].to_numpy()}
    assert (100, 102) in found
    ident = pairs[(pairs.id_a == 100) & (pairs.id_b == 102)]
    assert ident["hamming"].iloc[0] == 0


def test_simhash_banding_is_exact(docs):
    """Pigeonhole guarantee: banded output == brute-force all-pairs Hamming
    (md5 mode, 6 bands x 10 bits, max_hamming 5)."""
    banded = dedup.simhash_pairs(docs, max_hamming=5, token_hash="md5").toPandas()
    codes = dedup.simhash64(docs, token_hash="md5").toPandas()
    brute = set()
    rows = list(codes.itertuples(index=False))
    for i, a in enumerate(rows):
        for b in rows[i + 1 :]:
            d = bin(a.simhash ^ b.simhash).count("1")
            if d <= 5:
                pair = (min(a.doc_id, b.doc_id), max(a.doc_id, b.doc_id), d)
                brute.add(pair)
    got = {tuple(r) for r in banded[["id_a", "id_b", "hamming"]].to_numpy()}
    assert got == brute


def test_simhash_rejects_bad_band_layout(docs):
    with pytest.raises(ValueError):
        dedup.simhash_pairs(docs, max_hamming=8)  # 9 bands don't divide 64
    with pytest.raises(ValueError):
        dedup.simhash_pairs(docs, max_hamming=5, n_bands=4)  # recall broken
    with pytest.raises(ValueError):
        dedup.simhash64(docs, token_hash="sha1")
    with pytest.raises(ValueError):
        dedup.simhash_pairs_wide(docs, max_hamming=6)  # 7 doesn't divide 120


def test_simhash_wide_banding_is_exact(docs):
    """Pigeonhole guarantee for the 120-bit code: banded output ==
    brute-force all-pairs Hamming over both 60-bit halves (6 x 20-bit
    bands, max_hamming 5), including identical docs at hamming 0."""
    banded = dedup.simhash_pairs_wide(docs, max_hamming=5).toPandas()
    codes = dedup.simhash_md5_120(docs).toPandas()
    brute = set()
    rows = list(codes.itertuples(index=False))
    for i, a in enumerate(rows):
        for b in rows[i + 1 :]:
            d = bin(a.sim_lo ^ b.sim_lo).count("1") + bin(
                a.sim_hi ^ b.sim_hi
            ).count("1")
            if d <= 5:
                brute.add((min(a.doc_id, b.doc_id), max(a.doc_id, b.doc_id), d))
    got = {tuple(r) for r in banded[["id_a", "id_b", "hamming"]].to_numpy()}
    assert got == brute
    assert any(h == 0 for (_, _, h) in got)  # the planted identical pair


def test_simhash_wide_buckets_are_selective(docs):
    """The point of the width: 20-bit bands.  The band explosion the join
    actually uses (dedup.wide_bands, the same frame simhash_pairs_wide
    joins on) must produce exactly n_bands * n_docs (doc, band) rows, band
    ids 0..5, and every band key in [0, 2^20) — i.e. bucket keys draw
    from a 2^20 space, not the 60-bit layout's 2^10 — and the band slices
    must reassemble the codes bit-for-bit (a wrong mask/shift cannot
    pass)."""
    from pyspark.sql import functions as F

    sims = dedup.simhash_md5_120(docs)
    n_docs = sims.count()
    assert n_docs > 0
    bands = dedup.wide_bands(sims, "doc_id", n_bands=6).toPandas()
    assert len(bands) == 6 * n_docs
    assert sorted(bands["band"].unique()) == [0, 1, 2, 3, 4, 5]
    assert bands["band_bits"].min() >= 0
    assert bands["band_bits"].max() < 2**20
    # a correct 6 x 20 layout uses the full key space, not 2^10 of it
    assert bands["band_bits"].max() >= 2**10
    # reassembly: OR-ing each band's bits back at its offset reproduces
    # (sim_lo, sim_hi) exactly for every doc
    for _, grp in bands.groupby("doc_id"):
        lo = hi = 0
        for _, row in grp.iterrows():
            start = int(row["band"]) * 20
            bits = int(row["band_bits"])
            if start < 60:
                lo |= bits << start
            else:
                hi |= bits << (start - 60)
        assert lo == int(grp["sim_lo"].iloc[0])
        assert hi == int(grp["sim_hi"].iloc[0])


def test_simhash_wide_rejects_unbandable_hamming(docs):
    """max_hamming=0 would need a single 120-bit band (LongType overflow)
    and must raise, pointing at exact_dups instead; a non-divisor band
    count raises too."""
    with pytest.raises(ValueError, match="exact_dups"):
        dedup.simhash_pairs_wide(docs, max_hamming=0)
    with pytest.raises(ValueError, match="divide 120"):
        dedup.simhash_pairs_wide(docs, max_hamming=6)  # 7 bands


def test_lsh_topk_recall_vs_bruteforce(spark):
    """Clustered corpus (the realistic embedding regime): each query has 5
    true near neighbors (perturbed copies) hidden among random fillers.
    Hyperplane LSH must recover most of them; on *uniform random* vectors
    LSH recall is provably weak — that is not the workload it serves."""
    rng = np.random.default_rng(11)
    dim, n_queries = 32, 10
    centers = rng.standard_normal((n_queries, dim))
    rows = []
    vid = n_queries
    for qi in range(n_queries):
        for _ in range(5):  # true neighbors: small angular perturbations
            rows.append((vid, (centers[qi] + 0.15 * rng.standard_normal(dim)).tolist()))
            vid += 1
    for _ in range(200):  # fillers
        rows.append((vid, rng.standard_normal(dim).tolist()))
        vid += 1
    corpus = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"])
    )
    queries = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": range(n_queries), "embedding": [c.tolist() for c in centers]}
        )
    )

    exact = similarity.cosine_topk(corpus, queries, k=5).toPandas()
    approx = similarity.lsh_topk(corpus, queries, k=5, n_bits=6).toPandas()

    exact_sets = exact.groupby("query_id")["neighbor_id"].apply(set)
    approx_sets = approx.groupby("query_id")["neighbor_id"].apply(set)
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / 5 for q in exact_sets.index
    ]
    assert np.mean(recalls) >= 0.8, f"LSH recall too low: {recalls}"


def test_language_id_markers(spark):
    rows = [
        (1, "the cat and the dog sat in the garden of the house"),
        (2, "der hund und die katze sind nicht in das haus"),
        (3, "le chien et la maison est une grande pour les chats"),
        (4, "zzz qqq xxx"),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    out = {r["doc_id"]: r["pred_lang"] for r in text.language_id(df).collect()}
    assert out == {1: "en", 2: "de", 3: "fr", 4: "und"}


def test_multimodal_feature_extraction(spark):
    assets = multimodal.synthesize_assets(spark, n=32)
    feats = multimodal.extract_features(assets, batch_size=8).toPandas()
    assert len(feats) == 32
    assert feats["features"].map(len).eq(multimodal.FEATURE_DIM).all()
    assert (feats["n_bytes"] > 0).all()
    # deterministic: same payload -> same features
    again = multimodal.extract_features(assets, batch_size=8).toPandas()
    a = [list(v) for v in feats.sort_values("asset_id")["features"]]
    b = [list(v) for v in again.sort_values("asset_id")["features"]]
    assert a == b

    stats = multimodal.payload_stats(assets).toPandas()
    assert (~stats["missing_payload"]).all()


def test_streaming_tumbling_window(spark, tmp_path):
    """End-to-end micro-batch run: parquet file source -> watermarked
    tumbling window -> memory sink, compared against the batch twin."""
    from tsdisagg_spark.streaming import stream_tumbling_counts, tumbling_counts

    src = str(tmp_path / "stream_src")
    events = pd.DataFrame(
        {
            "ts": pd.date_range("2024-01-01", periods=240, freq="90s"),
            "event_type": ["a", "b"] * 120,
            "value": np.arange(240, dtype=float),
        }
    )
    spark.createDataFrame(events).write.parquet(src)

    static = spark.read.parquet(src)
    stream = spark.readStream.schema(static.schema).parquet(src)

    q = (
        stream_tumbling_counts(stream, window_size="1 hour", watermark="2 hours")
        .writeStream.format("memory")
        .queryName("windowed_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.sql("select * from windowed_counts").toPandas()
    expected = tumbling_counts(static, window_size="1 hour").toPandas()
    key = ["event_type", "window_start"]
    got_s = got.sort_values(key).reset_index(drop=True)
    exp_s = expected.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got_s[exp_s.columns], exp_s)


def test_streaming_windowed_distinct_matches_batch(spark, tmp_path):
    """Streaming per-window HLL cardinality: parquet source -> watermarked
    register aggregation -> memory sink; estimating the streamed
    registers must reproduce the batch twin EXACTLY (identical registers
    -> identical dyadic sums -> identical estimates), including across
    users repeating in many windows."""
    from tsdisagg_spark.operators.sketches import hll_estimate
    from tsdisagg_spark.streaming import (
        stream_windowed_distinct_registers,
        windowed_distinct_counts,
    )

    src = str(tmp_path / "wd_src")
    events = pd.DataFrame(
        {
            "ts": pd.date_range("2024-03-01", periods=600, freq="7min"),
            "event_type": ["a", "b", "c"] * 200,
            "user_id": [i % 37 for i in range(600)],
        }
    )
    spark.createDataFrame(events).write.parquet(src)
    static = spark.read.parquet(src)
    stream = spark.readStream.schema(static.schema).parquet(src)

    q = (
        stream_windowed_distinct_registers(
            stream, window_size="1 day", watermark="2 hours", p=5
        )
        .writeStream.format("memory")
        .queryName("wd_regs")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = (
        hll_estimate(
            spark.sql("select * from wd_regs"),
            p=5,
            group_cols=["event_type", "window_start", "window_end"],
        )
        .toPandas()
        .sort_values(["event_type", "window_start"])
        .reset_index(drop=True)
    )
    exp = (
        windowed_distinct_counts(static, window_size="1 day", p=5)
        .toPandas()
        .sort_values(["event_type", "window_start"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got[exp.columns], exp)
    assert len(exp) > 3  # several (type, day) windows actually exercised


def test_streaming_windowed_distinct_append_mode_watermark(spark, tmp_path):
    """Append-mode regression pin for the watermark binding: grouping by
    pre-extracted ``w.start``/``w.end`` fields strips the event-time
    column's watermark metadata, making append mode fail with
    "streaming aggregations without watermark" (and leaving update-mode
    state unevictable).  Grouping by the window STRUCT and projecting
    start/end after the aggregation must (a) start cleanly in append
    mode and (b) emit exactly the batch twin's registers for windows the
    final watermark has closed, withholding still-open ones."""
    from tsdisagg_spark.streaming import (
        stream_windowed_distinct_registers,
        windowed_distinct_registers,
    )

    src = str(tmp_path / "wd_append_src")
    # three calendar days, one parquet file per day written in order so
    # maxFilesPerTrigger=1 advances the watermark day by day
    for day in ("2024-03-01", "2024-03-02", "2024-03-03"):
        pdf = pd.DataFrame(
            {
                "ts": pd.date_range(day, periods=120, freq="11min"),
                "event_type": ["a", "b"] * 60,
                "user_id": [i % 23 for i in range(120)],
            }
        )
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(src)

    static = spark.read.parquet(src)
    stream = spark.readStream.schema(static.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)

    q = (
        stream_windowed_distinct_registers(
            stream, window_size="1 day", watermark="2 hours", p=5
        )
        .writeStream.format("memory")
        .queryName("wd_regs_append")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.sql("select * from wd_regs_append").toPandas()
    exp = windowed_distinct_registers(static, window_size="1 day", p=5).toPandas()

    # day-1's window closed once day-2's batch advanced the watermark past
    # its end; day-3's window end exceeds every observed watermark so it
    # must be withheld (that withholding IS the bounded-state contract)
    emitted_days = set(got["window_start"].dt.strftime("%Y-%m-%d"))
    assert "2024-03-01" in emitted_days, emitted_days
    assert "2024-03-03" not in emitted_days, emitted_days

    key = ["event_type", "window_start", "bucket"]
    for day in sorted(emitted_days):
        g = got[got["window_start"].dt.strftime("%Y-%m-%d") == day]
        e = exp[exp["window_start"].dt.strftime("%Y-%m-%d") == day]
        pd.testing.assert_frame_equal(
            g.sort_values(key).reset_index(drop=True)[e.columns],
            e.sort_values(key).reset_index(drop=True),
        )


def test_ivf_topk_recall_vs_bruteforce(spark):
    """Same clustered regime as the LSH test: IVF with nprobe=3 of 8 lists
    must recover most true neighbors (clusters land in few lists)."""
    rng = np.random.default_rng(23)
    dim, n_queries = 32, 10
    centers = rng.standard_normal((n_queries, dim))
    rows = []
    vid = n_queries
    for qi in range(n_queries):
        for _ in range(5):
            rows.append((vid, (centers[qi] + 0.15 * rng.standard_normal(dim)).tolist()))
            vid += 1
    for _ in range(200):
        rows.append((vid, rng.standard_normal(dim).tolist()))
        vid += 1
    corpus = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"])
    )
    queries = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": range(n_queries), "embedding": [c.tolist() for c in centers]}
        )
    )

    exact = similarity.cosine_topk(corpus, queries, k=5).toPandas()
    approx = similarity.ivf_topk(
        corpus, queries, k=5, n_lists=8, nprobe=3
    ).toPandas()

    exact_sets = exact.groupby("query_id")["neighbor_id"].apply(set)
    approx_sets = approx.groupby("query_id")["neighbor_id"].apply(set)
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / 5 for q in exact_sets.index
    ]
    assert np.mean(recalls) >= 0.8, f"IVF recall too low: {recalls}"


def test_stateful_streaming_sessions(spark, tmp_path):
    """applyInPandasWithState sessionization: event-time gap sessions with
    state timeout, run availableNow against a parquet source and compared to
    the batch session_window result for sessions the watermark has closed."""
    from tsdisagg_spark.streaming.windows import stateful_sessions

    src = str(tmp_path / "sess_src")
    rows = []
    # user 1: two sessions separated by a 2-hour silence; user 2: one session
    base = pd.Timestamp("2024-01-01 00:00:00")
    for i in range(5):
        rows.append((1, base + pd.Timedelta(minutes=5 * i), 1.0))
    for i in range(3):
        rows.append((1, base + pd.Timedelta(hours=3, minutes=10 * i), 2.0))
    for i in range(4):
        rows.append((2, base + pd.Timedelta(minutes=7 * i), 0.5))
    # a late sentinel far in the future so the watermark passes everything
    rows.append((99, base + pd.Timedelta(days=2), 0.0))
    events = pd.DataFrame(rows, columns=["user_id", "ts", "value"])
    spark.createDataFrame(events).write.parquet(src)

    static = spark.read.parquet(src)
    stream = spark.readStream.schema(static.schema).parquet(src)

    q = (
        stateful_sessions(stream, gap_minutes=30, watermark="1 minute")
        .writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.sql("select * from sessions_out")
        .toPandas()
        .sort_values(["user_id", "session_start"])
        .reset_index(drop=True)
    )
    # sessions closed by the watermark: user 1 x2, user 2 x1 (sentinel's own
    # session stays open — no later watermark advance closes it)
    assert len(got) == 3
    u1 = got[got.user_id == 1]
    assert list(u1["n_events"]) == [5, 3]
    assert list(u1["total_value"]) == [5.0, 6.0]
    first = u1.iloc[0]
    assert first["session_start"] == base
    assert first["session_end"] == base + pd.Timedelta(minutes=20 + 30)
    u2 = got[got.user_id == 2]
    assert list(u2["n_events"]) == [4]


def test_stateful_sessions_string_key_schema_derived(spark, tmp_path):
    """stateful_sessions must derive its output/state contract from the
    INPUT frame's key column (name AND type) — the previous hardcoded
    ``user_id: long`` structs mislabeled or Arrow-miscast any non-default
    ``key_col`` (same bug class fixed for stream_cusum/ewma in round 7).
    Here the session key is a STRING column named ``device``."""
    from tsdisagg_spark.streaming.windows import stateful_sessions

    src = str(tmp_path / "sess_str_src")
    base = pd.Timestamp("2024-01-01 00:00:00")
    rows = []
    # device "a": two sessions split by a 2-hour gap; device "b": one
    for i in range(4):
        rows.append(("a", base + pd.Timedelta(minutes=5 * i), 1.0))
    for i in range(2):
        rows.append(("a", base + pd.Timedelta(hours=3, minutes=10 * i), 2.0))
    for i in range(3):
        rows.append(("b", base + pd.Timedelta(minutes=9 * i), 0.5))
    rows.append(("zz", base + pd.Timedelta(days=2), 0.0))  # watermark mover
    events = pd.DataFrame(rows, columns=["device", "ts", "value"])
    spark.createDataFrame(events).write.parquet(src)

    static = spark.read.parquet(src)
    stream = spark.readStream.schema(static.schema).parquet(src)
    out = stateful_sessions(
        stream, gap_minutes=30, watermark="1 minute", key_col="device"
    )
    assert out.schema["device"].dataType.simpleString() == "string"
    q = (
        out.writeStream.format("memory")
        .queryName("sessions_str_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.sql("select * from sessions_str_out")
        .toPandas()
        .sort_values(["device", "session_start"])
        .reset_index(drop=True)
    )
    assert list(got.columns) == [
        "device", "session_start", "session_end", "n_events", "total_value",
    ]
    assert len(got) == 3
    a = got[got.device == "a"]
    assert list(a["n_events"]) == [4, 2]
    assert list(a["total_value"]) == [4.0, 4.0]
    assert a.iloc[0]["session_start"] == base
    assert a.iloc[0]["session_end"] == base + pd.Timedelta(minutes=15 + 30)
    assert list(got[got.device == "b"]["n_events"]) == [3]


def test_exact_dup_pairs_blocked_gemm(spark):
    """The blocked-GEMM all-pairs scorer must find exactly the planted
    near-duplicate pairs, independent of block count."""
    rng = np.random.default_rng(31)
    dim = 16
    base = rng.standard_normal(dim)
    rows = [
        (0, base.tolist()),
        (1, (base + 0.01 * rng.standard_normal(dim)).tolist()),  # near-dup of 0
        (2, (-base).tolist()),  # anti-correlated
    ]
    for i in range(3, 40):
        rows.append((i, rng.standard_normal(dim).tolist()))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["vec_id", "embedding"]))

    for n_blocks in (1, 2, 5):
        pairs = similarity.exact_dup_pairs(
            df, threshold=0.99, n_blocks=n_blocks
        ).toPandas()
        assert len(pairs) == 1, pairs
        assert (pairs.iloc[0]["id_a"], pairs.iloc[0]["id_b"]) == (0, 1)
        assert pairs.iloc[0]["cosine"] >= 0.99


def test_frame_sampling_expansion(spark):
    """sample_frames must expand 1 asset to n_frames rows with distinct,
    deterministic per-frame features."""
    assets = multimodal.synthesize_assets(spark, n=6)
    frames = multimodal.sample_frames(assets, n_frames=3).toPandas()
    assert len(frames) == 18
    per_asset = frames.groupby("asset_id")["frame_idx"].apply(sorted)
    assert all(list(v) == [0, 1, 2] for v in per_asset)
    one = frames[frames.asset_id == 0].sort_values("frame_idx")
    f0, f1 = list(one["features"].iloc[0]), list(one["features"].iloc[1])
    assert f0 != f1  # frame index salts the stub decode
    again = multimodal.sample_frames(assets, n_frames=3).toPandas()
    a = frames.sort_values(["asset_id", "frame_idx"])["features"].map(list).tolist()
    b = again.sort_values(["asset_id", "frame_idx"])["features"].map(list).tolist()
    assert a == b


def test_extract_features_leaves_session_conf_alone(spark):
    """batch_size re-chunks inside Python; it must NOT touch the session-global
    Arrow batch conf (an earlier version set maxRecordsPerBatch and leaked it
    into every later query)."""
    from tsdisagg_spark.operators.multimodal import extract_features, synthesize_assets

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key, None)
    assets = synthesize_assets(spark, n=48)
    out = extract_features(assets, batch_size=7)
    rows = out.collect()
    assert len(rows) == 48
    assert all(r.features is not None and len(r.features) == 16 for r in rows)
    assert spark.conf.get(key, None) == before


def test_train_centroids_clamps_and_is_deterministic(spark):
    """Fewer sampled rows than n_lists must not crash (clamp), and ordering by
    id makes the sample — hence the centroids — partition-independent."""
    import pyspark.sql.functions as F

    from tsdisagg_spark.operators.similarity import train_centroids

    df = spark.range(5).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") * 1.0), (F.col("id") * 2.0 + 1.0)
        ).alias("embedding"),
    )
    cents = train_centroids(df, n_lists=8, order_col="vec_id")
    assert 1 <= len(cents) <= 5
    again = train_centroids(df.repartition(7), n_lists=8, order_col="vec_id")
    assert cents == again


def test_redact_pii_matches_duckdb_on_planted_pii(spark):
    """Plant URL/email/phone spans (including nasty nestings: email-in-URL,
    digits-in-URL) and require byte-identical redaction between Spark's Java
    regex and DuckDB's RE2 — the cross-engine contract the oracle relies on."""
    import duckdb

    from tsdisagg_spark.operators.text import PII_PATTERNS, redact_pii

    rows = [
        (1, "contact me at alice@example.com or +1 (555) 123-4567 today"),
        (2, "see https://example.com/u@v?x=1 and bob.smith+tag@mail.co.uk"),
        (3, "no pii here, just words and 42"),
        (4, "tel: 0041-22-730-5989 backup 555 867 5309 end"),
        (5, "mixed https://a.b/c#frag then carol@d.org then 1234567 done"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r.asDict() for r in redact_pii(df).collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE docs (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
    clean = "text"
    selects = []
    for name, pat in PII_PATTERNS:
        clean = f"regexp_replace({clean}, ?, '<{name.upper()}>', 'g')"
        selects.append(f"CAST(len(regexp_extract_all(text, ?)) AS BIGINT)")
    pats = [p for _, p in PII_PATTERNS]
    sql = (f"SELECT doc_id, md5({clean}) AS clean_digest, "
           + ", ".join(f"{s} AS n_{name}s" for s, (name, _) in zip(selects, PII_PATTERNS))
           + " FROM docs")
    want = con.execute(sql, pats + pats).df().set_index("doc_id").to_dict("index")

    for doc_id, exp in want.items():
        g = got[doc_id]
        assert g["clean_digest"] == exp["clean_digest"], f"doc {doc_id}"
        for name, _ in PII_PATTERNS:
            assert g[f"n_{name}s"] == exp[f"n_{name}s"], (doc_id, name)
    assert got[3]["n_urls"] == got[3]["n_emails"] == 0


def test_top_ngrams_counts(spark):
    from tsdisagg_spark.operators.text import top_ngrams

    df = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b x"), (3, "z")], ["doc_id", "text"]
    )
    out = {(r.ngram): r.n_occurrences for r in top_ngrams(df, n=2, k=10).collect()}
    assert out["a b"] == 3       # twice in doc 1, once in doc 2
    assert out["b a"] == 1 and out["b c"] == 1 and out["b x"] == 1
    assert "z" not in out        # 1-word doc yields no bigram


def test_stateful_sessions_drop_late_events(spark, tmp_path):
    """Watermark enforcement in the custom stateful operator: an event older
    than the advanced watermark arrives in a LATER micro-batch and must be
    dropped — the closed session's aggregate cannot change.  Two batches are
    forced with maxFilesPerTrigger=1 over two single-file writes."""
    import time as _time

    from tsdisagg_spark.streaming.windows import stateful_sessions

    src = str(tmp_path / "late_src")
    base = pd.Timestamp("2024-01-01 00:00:00")
    b1 = pd.DataFrame(
        {
            "user_id": [1, 1, 7],
            "ts": [base, base + pd.Timedelta(minutes=5),
                   base + pd.Timedelta(hours=6)],  # sentinel advances watermark
            "value": [1.0, 1.0, 0.0],
        }
    )
    b2 = pd.DataFrame(  # late: watermark is already ~05:59
        {"user_id": [1], "ts": [base + pd.Timedelta(minutes=10)], "value": [100.0]}
    )
    spark.createDataFrame(b1).coalesce(1).write.mode("append").parquet(src)
    _time.sleep(1.1)  # distinct mtimes so the file source orders the batches
    spark.createDataFrame(b2).coalesce(1).write.mode("append").parquet(src)

    static = spark.read.parquet(src)
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stateful_sessions(stream, gap_minutes=30, watermark="1 minute")
        .writeStream.format("memory")
        .queryName("late_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from late_sessions").toPandas()
    u1 = got[got.user_id == 1]
    assert len(u1) == 1
    assert int(u1.iloc[0]["n_events"]) == 2          # late event NOT merged
    assert float(u1.iloc[0]["total_value"]) == 2.0   # 100.0 was dropped


def test_contamination_counts(spark):
    """Known overlap: train doc 1 shares exactly two distinct trigrams with
    the benchmark, train doc 2 shares one, doc 3 shares none."""
    bench = spark.createDataFrame(
        pd.DataFrame({"doc_id": [100], "text": ["alpha beta gamma delta"]})
    )
    # bench trigrams: {alpha beta gamma, beta gamma delta}
    train = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "alpha beta gamma delta end",   # both bench trigrams
                    "x alpha beta gamma y",         # one bench trigram
                    "entirely unrelated words here",
                ],
            }
        )
    )
    out = dedup.contamination(train, bench, n=3).toPandas().set_index("doc_id")
    assert out.loc[1, "n_shared_ngrams"] == 2
    assert out.loc[2, "n_shared_ngrams"] == 1
    assert 3 not in out.index


def test_stratified_sample_deterministic_and_portable(spark):
    """The sampling decision must equal an independent hashlib recomputation
    (the cross-engine md5 contract) and be identical across runs."""
    import hashlib

    from tsdisagg_spark.operators import sampling

    pdf = pd.DataFrame({"doc_id": range(400), "lang": ["en", "de", "fr", "it"] * 100})
    df = spark.createDataFrame(pdf)
    rates = {"en": 0.5, "de": 0.25, "fr": 0.1}
    kept1 = sorted(
        r.doc_id
        for r in sampling.stratified_sample(
            df, "lang", rates, key_col="doc_id", default_rate=0.05
        ).collect()
    )
    kept2 = sorted(
        r.doc_id
        for r in sampling.stratified_sample(
            df.repartition(7), "lang", rates, key_col="doc_id", default_rate=0.05
        ).collect()
    )
    assert kept1 == kept2  # partitioning-independent

    def expect_keep(doc_id, lang):
        bucket = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) % 10000
        return bucket < int(rates.get(lang, 0.05) * 10000)

    expected = sorted(
        d for d, lang in zip(pdf.doc_id, pdf.lang) if expect_keep(d, lang)
    )
    assert kept1 == expected


def test_stratified_sample_plan_is_scan_local(spark):
    """The operator must compile to a filter over the scan: no exchange, no
    UDF — it rides the scan at any corpus size."""
    from tsdisagg_spark.operators import sampling

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(50), "lang": ["en", "de"] * 25})
    )
    out = sampling.stratified_sample(df, "lang", {"en": 0.5}, key_col="doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_mixture_resample_multiset_and_plan(spark):
    """Repeat counts equal the hashlib recomputation (floor + md5-bucket
    fraction), weight-0 strata vanish, repeat_idx is dense 0..n-1, the
    result is partitioning-independent, and the plan is a map-side
    explode — no exchange, no UDF."""
    import hashlib
    from collections import Counter

    from tsdisagg_spark.operators import sampling

    pdf = pd.DataFrame(
        {"doc_id": range(300), "source": ["w", "x", "y", "z"] * 75}
    )
    df = spark.createDataFrame(pdf)
    weights = {"w": 2.5, "x": 0.4, "y": 0.0}

    def run(frame):
        return [
            (r.doc_id, r.repeat_idx)
            for r in sampling.mixture_resample(
                frame, "source", weights, key_col="doc_id"
            ).collect()
        ]

    got = run(df)
    assert sorted(got) == sorted(run(df.repartition(7)))

    def expect_repeats(doc_id, source):
        w = weights.get(source, 1.0)
        bucket = (
            int(hashlib.md5(f"{doc_id}mix".encode()).hexdigest()[:8], 16)
            % 10000
        )
        return int(w) + (1 if bucket < round((w - int(w)) * 10000) else 0)

    want = Counter()
    for d, s in zip(pdf.doc_id, pdf.source):
        want[d] = expect_repeats(d, s)
    got_counts = Counter(d for d, _ in got)
    assert got_counts == Counter({d: n for d, n in want.items() if n > 0})
    # repeat_idx is dense per doc
    by_doc = {}
    for d, i in got:
        by_doc.setdefault(d, []).append(i)
    assert all(sorted(v) == list(range(len(v))) for v in by_doc.values())
    # y (weight 0) gone entirely
    assert not any(pdf.source[d] == "y" for d in got_counts)

    plan = (
        sampling.mixture_resample(df, "source", weights, key_col="doc_id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_snapshot_diff_classes_and_null_safety(spark):
    """All four change classes, null-safe compare (NULL -> value is
    'changed'), include_unchanged flag, and a single full-outer join in
    the plan (no anti-joins)."""
    from tsdisagg_spark.operators import joins

    old = spark.createDataFrame(
        [(1, 10, None), (2, 20, "a"), (3, 30, "b"), (5, 50, "e")],
        "k long, v long, tag string",
    )
    new = spark.createDataFrame(
        [(1, 10, "seen"), (2, 20, "a"), (4, 40, "d"), (5, 51, "e")],
        "k long, v long, tag string",
    )
    out = {
        r.k: r.change
        for r in joins.snapshot_diff(
            old, new, keys=["k"], compare_cols=["v", "tag"]
        ).collect()
    }
    assert out == {1: "changed", 3: "removed", 4: "added", 5: "changed"}

    full = joins.snapshot_diff(
        old, new, keys=["k"], compare_cols=["v", "tag"],
        include_unchanged=True,
    )
    rows = {r.k: r for r in full.collect()}
    assert rows[2].change == "unchanged"
    assert rows[4].old_v is None and rows[4].new_v == 40
    assert rows[3].new_tag is None and rows[3].old_v == 30

    plan = full._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FullOuter") >= 1
    assert "LeftAnti" not in plan


def test_pq_encode_and_adc_match_bruteforce(spark):
    """PQ codes equal the numpy per-subspace argmin (tie-break on code),
    seed vectors encode to themselves with zero error, and ADC top-k
    equals the numpy lookup-table ranking."""
    import numpy as np

    from tsdisagg_spark.operators import similarity

    rng = np.random.default_rng(5)
    n, m, sd = 80, 3, 8
    base = rng.normal(size=(n, m * sd)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    seeds = similarity.pq_subvectors(
        df.filter(F.col("vec_id") < 5), m=m, sub_dim=sd
    ).select("sub", F.col("vec_id").alias("code"), F.col("sv").alias("cent"))
    codes = similarity.pq_encode(df, seeds, m=m, sub_dim=sd)
    got = {(r.vec_id, r.sub): (r.code, r.sub_d2) for r in codes.collect()}

    v = base.astype(np.float64)
    cents = v[:5].reshape(5, m, sd)
    for i in range(n):
        for j in range(m):
            d2 = ((v[i, j * sd : (j + 1) * sd] - cents[:, j, :]) ** 2).sum(
                axis=1
            )
            code = int(np.lexsort((np.arange(5), d2))[0])
            assert got[(i, j)][0] == code, (i, j)
            assert abs(got[(i, j)][1] - round(float(d2[code]), 6)) < 1e-9
    for j in range(m):  # seeds encode to themselves, zero error
        assert got[(2, j)] == (2, 0.0)

    probe = similarity.pq_subvectors(
        df.filter(F.col("vec_id") == 7), m=m, sub_dim=sd
    ).select("sub", "sv")
    corpus_codes = similarity.pq_encode(
        df.filter(F.col("vec_id") != 7), seeds, m=m, sub_dim=sd
    )
    top = [
        (r.vec_id, r.adc_d2, r.rank)
        for r in similarity.pq_adc_topk(
            corpus_codes, seeds, probe, k=5
        ).collect()
    ]
    lut = ((v[7].reshape(m, 1, sd) - cents.transpose(1, 0, 2)) ** 2).sum(
        axis=2
    )  # (m, 5)
    scores = {}
    for i in range(n):
        if i == 7:
            continue
        s = sum(
            lut[j, got[(i, j)][0]] for j in range(m)
        )
        scores[i] = round(float(s), 6)
    want = sorted(scores.items(), key=lambda kv: (kv[1], kv[0]))[:5]
    assert [(i, s) for i, s, _ in top] == want
    assert [r for _, _, r in top] == [1, 2, 3, 4, 5]


def test_grid_quantiles_matches_order_statistic(spark):
    """grid_quantiles equals the lower order statistic (inverted CDF)
    computed by sorting, across heavy ties, singleton groups, and q=1;
    bad rationals raise."""
    import math

    import numpy as np

    from tsdisagg_spark.operators import sketches

    rng = np.random.default_rng(7)
    rows = []
    for g, n in [("a", 500), ("b", 73), ("c", 1), ("d", 2)]:
        vals = rng.integers(0, 40, size=n)  # dense ties
        rows += [(g, int(v)) for v in vals]
    df = spark.createDataFrame(rows, "grp string, v long")
    qs = [(1, 4), (1, 2), (3, 4), (1, 1), (1, 100)]
    got = {
        r.grp: r.asDict()
        for r in sketches.grid_quantiles(df, "v", qs, ["grp"]).collect()
    }
    by_g = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(v)
    for g, vals in by_g.items():
        s = sorted(vals)
        n = len(s)
        assert got[g]["n_rows"] == n
        for num, den in qs:
            # smallest v with den*cum >= num*n == element at rank
            # ceil(num*n/den) (1-based)
            rank = math.ceil(num * n / den)
            assert got[g][f"q_{num}_{den}"] == s[rank - 1], (g, num, den)

    for bad in [(0, 4), (5, 4), (-1, 2)]:
        try:
            sketches.grid_quantiles(df, "v", [bad], ["grp"])
            raise AssertionError(f"{bad} accepted")
        except ValueError:
            pass


def test_snapshot_diff_bucketed_inputs_skip_exchange(spark, tmp_path):
    """The docstring's 100 TB claim, made testable: two snapshots saved
    bucketed on the diff key full-outer join with FEWER exchanges than
    the identical unbucketed frames (zero on the join itself), and the
    diff output is identical.  Broadcast disabled so the tiny frames
    take the sort-merge path real snapshot sizes would."""
    from tsdisagg_spark.operators import joins

    old_rows = [(i, i * 10) for i in range(50)]
    new_rows = [(i, i * 10 + (i % 7 == 0)) for i in range(5, 55)]
    old = spark.createDataFrame(old_rows, "k long, v long")
    new = spark.createDataFrame(new_rows, "k long, v long")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        def save(df, name):
            (
                df.write.mode("overwrite")
                .bucketBy(8, "k")
                .sortBy("k")
                .option("path", str(tmp_path / name))
                .saveAsTable(name)
            )
            return spark.table(name)

        b_old, b_new = save(old, "snap_old"), save(new, "snap_new")

        def run(o, n):
            return joins.snapshot_diff(o, n, keys=["k"], compare_cols=["v"])

        def n_exchanges(df):
            return df._jdf.queryExecution().executedPlan().toString().count(
                "Exchange"
            )

        rows_b = sorted(map(tuple, run(b_old, b_new).collect()))
        rows_p = sorted(map(tuple, run(old, new).collect()))
        assert rows_b == rows_p and rows_b
        assert n_exchanges(run(b_old, b_new)) == 0
        assert n_exchanges(run(old, new)) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS snap_old")
        spark.sql("DROP TABLE IF EXISTS snap_new")


def test_interval_join_matches_bruteforce_and_plans_equi(spark):
    """interval_join equals the brute-force inequality scan for every
    (point, interval) pair — boundaries lo-inclusive / hi-exclusive,
    intervals spanning many buckets, degenerate lo >= hi dropped — and
    plans an EQUI-join on the bucket id, not a nested-loop cartesian."""
    import datetime as dt

    from tsdisagg_spark.operators import joins

    t0 = dt.datetime(2024, 1, 1)
    pts = [(i, t0 + dt.timedelta(seconds=37 * i)) for i in range(200)]
    ivs = [
        (100, t0 + dt.timedelta(seconds=100), t0 + dt.timedelta(seconds=100)),
        (101, t0 + dt.timedelta(seconds=500), t0 + dt.timedelta(seconds=200)),
        (102, t0, t0 + dt.timedelta(seconds=37)),
        (103, t0 + dt.timedelta(seconds=1000), t0 + dt.timedelta(seconds=5000)),
        (104, t0 + dt.timedelta(seconds=74), t0 + dt.timedelta(seconds=75)),
    ]
    p = spark.createDataFrame(pts, "pid long, ts timestamp")
    v = spark.createDataFrame(ivs, "iid long, lo timestamp, hi timestamp")
    out = joins.interval_join(p, v, "ts", "lo", "hi", bucket_seconds=60)
    got = {(r.pid, r.iid) for r in out.collect()}
    want = {
        (pid, iid)
        for pid, ts in pts
        for iid, lo, hi in ivs
        if lo <= ts < hi
    }
    assert got == want
    assert not any(i in (100, 101) for _, i in got)  # degenerate dropped
    assert (2, 104) in got and (0, 102) in got and (1, 102) not in got

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan

    try:
        joins.interval_join(
            p.withColumnRenamed("pid", "iid"), v, "ts", "lo", "hi"
        )
        raise AssertionError("column clash not rejected")
    except ValueError as e:
        assert "iid" in str(e)

    # span guard: a width mismatch fails loudly, not as an OOM
    try:
        joins.interval_join(
            p, v, "ts", "lo", "hi", bucket_seconds=1, max_span_buckets=100
        ).collect()
        raise AssertionError("oversized span not rejected")
    except Exception as e:
        assert "max_span_buckets" in str(e)
    # ...and a sufficient cap passes with identical results
    ok = joins.interval_join(
        p, v, "ts", "lo", "hi", bucket_seconds=60, max_span_buckets=1000
    )
    assert {(r.pid, r.iid) for r in ok.collect()} == want


def test_mixture_resample_rejects_bad_weights(spark):
    from tsdisagg_spark.operators import sampling

    df = spark.createDataFrame([(1, "a")], "doc_id long, source string")
    for bad in [{"a": -0.5}, {"a": 20_000.0}]:
        try:
            sampling.mixture_resample(df, "source", bad, key_col="doc_id")
            raise AssertionError(f"{bad} accepted")
        except ValueError as e:
            assert "mixture weight" in str(e)


def test_repetition_stats_values(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "a b a b a b",      # bigrams: 3x"a b", 2x"b a" -> top 3/5
                    "w x y z",           # all distinct, top bigram 1/3
                    "solo",              # no bigrams
                ],
            }
        )
    )
    out = text.repetition_stats(df).toPandas().set_index("doc_id")
    assert out.loc[1, "n_words"] == 6 and out.loc[1, "n_distinct_words"] == 2
    assert out.loc[1, "top_bigram_n"] == 3
    assert abs(out.loc[1, "top_bigram_share"] - 0.6) < 1e-9
    assert out.loc[2, "top_bigram_n"] == 1
    assert out.loc[3, "top_bigram_n"] == 0 and out.loc[3, "top_bigram_share"] == 0.0
    # shuffle-free contract: pure projection — no KEYED exchange; the only
    # exchange ever allowed is the scale-adaptive input spread
    # (operators/_par.py), a no-op on a pre-spread input, pinned here by
    # feeding one
    plan = (
        text.repetition_stats(df.repartition(8))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange hashpartitioning" not in plan
    assert plan.count("Exchange") <= 1  # the pre-spread only


# ---------------------------------------------------------------------------
# connected components (operators/graph.py)
# ---------------------------------------------------------------------------

def _brute_components(edge_list):
    """Driver-side union-find ground truth."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edge_list:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {x: find(x) for x in parent}


def test_connected_components_chain(spark):
    """Pathological chain 0-1-2-...-19: one component, labeled 0 — the case
    where naive label propagation needs diameter rounds."""
    from tsdisagg_spark.operators import graph

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(19)], ["id_a", "id_b"]
    )
    out = graph.connected_components(edges).toPandas()
    assert set(out["node"]) == set(range(20))
    assert (out["component"] == 0).all()


def test_connected_components_random_vs_union_find(spark):
    rng = np.random.default_rng(7)
    edge_list = [
        (int(a), int(b))
        for a, b in rng.integers(0, 60, size=(80, 2))
        if a != b
    ]
    from tsdisagg_spark.operators import graph

    edges = spark.createDataFrame(edge_list, ["id_a", "id_b"])
    got = dict(
        graph.connected_components(edges).toPandas()[["node", "component"]].values
    )
    want = _brute_components(edge_list)
    assert got == want


def test_connected_components_disjoint_and_reversed(spark):
    """Two components, edges given in arbitrary orientation."""
    from tsdisagg_spark.operators import graph

    edges = spark.createDataFrame(
        [(5, 3), (3, 9), (40, 41), (42, 41)], ["id_a", "id_b"]
    )
    out = dict(graph.connected_components(edges).toPandas()[["node", "component"]].values)
    assert out == {3: 3, 5: 3, 9: 3, 40: 40, 41: 40, 42: 40}


# ---------------------------------------------------------------------------
# sequence packing (operators/packing.py)
# ---------------------------------------------------------------------------

def test_sequence_packing_invariants(spark):
    """Hierarchical prefix sum == sequential packing: per-doc overlap sums to
    the doc's tokens; every bin but the last holds exactly `budget` tokens.
    bucket_size=7 forces many buckets so the broadcast-offset path is real."""
    from tsdisagg_spark.operators import packing

    rng = np.random.default_rng(3)
    rows = [(i, " ".join(f"w{j}" for j in range(rng.integers(1, 40)))) for i in range(100)]
    # whitespace-only doc: the canonical tokenizer (split on \s+ after trim)
    # yields [''] — ONE token — identically in Spark and DuckDB, so packing
    # counts it rather than dropping it
    rows.append((100, "   "))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    out = packing.pack_token_stream(df, budget=64, bucket_size=7).toPandas()

    assert int(out.loc[out.doc_id == 100, "n_tokens"].iloc[0]) == 1
    per_doc = out.groupby("doc_id").agg(n=("n_tokens", "first"), s=("tokens_in_bin", "sum"))
    assert (per_doc["n"] == per_doc["s"]).all()
    per_bin = out.groupby("bin_id")["tokens_in_bin"].sum()
    assert (per_bin.iloc[:-1] == 64).all()
    assert 0 < per_bin.iloc[-1] <= 64
    # bins are a contiguous range from 0
    assert sorted(per_bin.index) == list(range(len(per_bin)))


def test_sequence_packing_straddle(spark):
    """A doc longer than the budget spans multiple bins with exact splits."""
    from tsdisagg_spark.operators import packing

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "text": [" ".join(["x"] * 25)]})
    )
    out = packing.pack_token_stream(df, budget=10).toPandas().sort_values("bin_id")
    assert list(out["bin_id"]) == [0, 1, 2]
    assert list(out["tokens_in_bin"]) == [10, 10, 5]


def test_streaming_sliding_window(spark, tmp_path):
    """Sliding-window streaming twin: every event lands in window/slide = 4
    overlapping hops, and the streaming result equals the batch plan."""
    from tsdisagg_spark.streaming import sliding_counts, stream_sliding_counts

    src = str(tmp_path / "slide_src")
    events = pd.DataFrame(
        {
            "ts": pd.date_range("2024-01-01", periods=160, freq="3min"),
            "event_type": ["a", "b"] * 80,
            "value": np.arange(160, dtype=float),
        }
    )
    spark.createDataFrame(events).write.parquet(src)

    static = spark.read.parquet(src)
    stream = spark.readStream.schema(static.schema).parquet(src)

    q = (
        stream_sliding_counts(stream, window_size="1 hour", slide="15 minutes")
        .writeStream.format("memory")
        .queryName("sliding_counts_sink")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.sql("select * from sliding_counts_sink").toPandas()
    expected = sliding_counts(static, window_size="1 hour", slide="15 minutes").toPandas()
    key = ["event_type", "window_start"]
    got_s = got.sort_values(key).reset_index(drop=True)
    exp_s = expected.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got_s[exp_s.columns], exp_s)
    # each event appears in exactly 4 hops: total count = 4x events
    assert got["n_events"].sum() == 4 * len(events)


# ---------------------------------------------------------------------------
# salted join (operators/joins.py)
# ---------------------------------------------------------------------------

def test_salted_join_equals_plain_join(spark):
    from tsdisagg_spark.operators.joins import salted_join

    left = spark.createDataFrame(
        pd.DataFrame({"k": [1] * 50 + [2, 3, 4], "v": range(53)})  # hot key 1
    )
    right = spark.createDataFrame(
        pd.DataFrame({"k": [1, 2, 3, 5], "name": ["a", "b", "c", "x"]})
    )
    for how in ("inner", "left"):
        got = (
            salted_join(left, right, on=["k"], n_salts=4, how=how)
            .toPandas().sort_values(["k", "v"]).reset_index(drop=True)
        )
        want = (
            left.join(right, ["k"], how)
            .toPandas().sort_values(["k", "v"]).reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got[want.columns], want)


def test_salted_join_rejects_outer(spark):
    from tsdisagg_spark.operators.joins import salted_join

    df = spark.range(3).withColumnRenamed("id", "k")
    with pytest.raises(ValueError):
        salted_join(df, df, on=["k"], how="full")
    with pytest.raises(ValueError):
        salted_join(df, df, on=["k"], n_salts=0)


def test_chunk_documents_coverage_and_overlap(spark):
    from tsdisagg_spark.operators import text as text_ops

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": [" ".join(f"w{i}" for i in range(150)), "short doc"]})
    )
    out = text_ops.chunk_documents(df, size=64, stride=48).toPandas()
    d1 = out[out.doc_id == 1].sort_values("chunk_id")
    # starts 0,48,96,144 -> 4 chunks; last has 150-144=6 words
    assert list(d1["chunk_id"]) == [0, 1, 2, 3]
    assert list(d1["n_words"]) == [64, 64, 54, 6]
    # consecutive full chunks overlap by size - stride = 16 words
    c0, c1 = d1.iloc[0]["chunk_text"].split(), d1.iloc[1]["chunk_text"].split()
    assert c0[48:] == c1[:16]
    # every word covered
    covered = set()
    for _, r in d1.iterrows():
        covered.update(r["chunk_text"].split())
    assert covered == {f"w{i}" for i in range(150)}
    d2 = out[out.doc_id == 2]
    assert len(d2) == 1 and d2.iloc[0]["chunk_text"] == "short doc"
    with pytest.raises(ValueError):
        text_ops.chunk_documents(df, size=10, stride=20)


def test_remove_duplicate_chunks_exact(spark):
    """Brute-force the global first-occurrence rule on a tiny corpus and
    check verbatim reassembly, the empty-survivor case, and counts."""
    from tsdisagg_spark.operators import text as text_ops

    blk_a = " ".join(f"a{i}" for i in range(4))
    blk_b = " ".join(f"b{i}" for i in range(4))
    blk_c = " ".join(f"c{i}" for i in range(4))
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            # doc1: A B   doc2: B C (B dup)   doc3: A B (all dup -> empty)
            # doc4: C + a 2-word tail block
            "text": [
                f"{blk_a} {blk_b}",
                f"{blk_b} {blk_c}",
                f"{blk_a} {blk_b}",
                f"{blk_c} tail words",
            ],
        }
    )
    out = (
        text_ops.remove_duplicate_chunks(
            spark.createDataFrame(docs), size=4
        )
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    # brute force: first (doc_id, chunk_id) per block text wins
    seen, want = {}, {}
    for _, r in docs.iterrows():
        w = r["text"].lower().split()
        kept = []
        for c, s in enumerate(range(0, len(w), 4)):
            blk = " ".join(w[s : s + 4])
            if blk not in seen:
                seen[blk] = (r["doc_id"], c)
                kept.append(blk)
        want[r["doc_id"]] = " ".join(kept)
    for doc_id, text in want.items():
        assert out.loc[doc_id, "cleaned_text"] == text
    assert out.loc[3, "cleaned_text"] == "" and out.loc[3, "n_chunks_kept"] == 0
    assert out.loc[3, "n_chunks_removed"] == 2
    assert out.loc[4, "n_chunks_kept"] == 1  # C removed (first seen in doc2), tail kept
    # kept + removed == total blocks per doc
    for doc_id, r in out.iterrows():
        n_words = len(docs.set_index("doc_id").loc[doc_id, "text"].split())
        assert r["n_chunks_kept"] + r["n_chunks_removed"] == -(-n_words // 4)
    with pytest.raises(ValueError):
        text_ops.remove_duplicate_chunks(spark.createDataFrame(docs), size=0)


def test_chunk_digest_lanes_independent(spark):
    """Same pin as the substring census (ADVICE r08): the chunk family's
    second xxhash64 lane must put the literal FIRST — ``xxhash64(1,
    chunk_text, 42)`` in the analyzed plan — so it is a different-seed
    hash of the text, not XXH64(1L, seed=d1) (which would collapse the
    128-bit pair to 64 bits of collision resistance)."""
    from tsdisagg_spark.operators import text as text_ops

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta")], "doc_id long, text string"
    )
    for frame in (
        text_ops.remove_duplicate_chunks(df, size=2),
        text_ops.chunk_index(df, size=2),
        text_ops.chunk_probe_clean(df, text_ops.chunk_index(df, size=2), size=2),
    ):
        plan = frame._jdf.queryExecution().analyzed().toString()
        assert "xxhash64(1, " in plan, plan
        assert not re.search(r"xxhash64\(chunk_text#\d+, 1,", plan), plan


def test_chunk_probe_rejects_v1_index(spark):
    """A persisted v1 (md5-string ``chunk_digest``) index probed by the
    v2 engine must fail loudly with the rebuild instruction, not as an
    unresolved-column error inside the anti-join."""
    from tsdisagg_spark.operators import text as text_ops

    batch = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    v1 = spark.createDataFrame([("deadbeef",)], "chunk_digest string")
    with pytest.raises(ValueError, match="chunk_d1.*rebuilt|rebuilt"):
        text_ops.chunk_probe_clean(batch, v1, size=2)


def test_chunk_probe_clean_stream_equals_batch(spark, tmp_path):
    """VERDICT r09 #7: the continuous-ingest claim, pinned.  Split an
    ingest set into micro-batches, run chunk_probe_clean per micro-batch
    through Structured Streaming foreachBatch — each batch probed against
    the corpus index UNIONed with the digests of all previously admitted
    batches' SURVIVING text — and assert the concatenated streamed output
    is bit-identical to the one-shot batch probe over the whole ingest
    set.  Identical requires ingest order to agree with the batch
    first-wins rule, so micro-batches are cut on doc_id ranges."""
    from tsdisagg_spark.operators import text as text_ops

    blk = lambda p: " ".join(f"{p}{i}" for i in range(4))
    corpus = spark.createDataFrame(
        [(1000, f"{blk('x')} {blk('y')}")], "doc_id long, text string"
    )
    ingest_rows = [
        # doc 0: one corpus-dup block + one fresh; doc 1 repeats doc 0's
        # fresh block (cross-batch dup); doc 2 all-dup -> empty; doc 3 fresh
        (0, f"{blk('x')} {blk('f')}"),
        (1, f"{blk('f')} {blk('g')}"),
        (2, f"{blk('y')} {blk('g')}"),
        (3, f"{blk('h')} tail words"),
    ]
    ingest = spark.createDataFrame(ingest_rows, "doc_id long, text string")
    index = text_ops.chunk_index(corpus, size=4)
    want = sorted(
        tuple(r) for r in text_ops.chunk_probe_clean(ingest, index, size=4).collect()
    )

    src = str(tmp_path / "ingest_src")
    # one file per doc_id => availableNow drains deterministically; cut
    # micro-batches in doc_id order with maxFilesPerTrigger=1
    for i, row in enumerate(ingest_rows):
        spark.createDataFrame([row], "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(src)

    got: list[tuple] = []
    state = {"index": index}

    def sink(bdf, _bid):
        if bdf.isEmpty():
            return
        cleaned = text_ops.chunk_probe_clean(
            bdf.orderBy("doc_id"), state["index"], size=4
        ).cache()
        got.extend(tuple(r) for r in cleaned.orderBy("doc_id").collect())
        # admit the batch: union the SURVIVING text's digests into the index
        state["index"] = state["index"].unionByName(
            text_ops.chunk_index(
                cleaned.filter(F.col("cleaned_text") != "").select(
                    "doc_id", F.col("cleaned_text").alias("text")
                ),
                size=4,
            )
        ).distinct().localCheckpoint()
        cleaned.unpersist()

    stream = spark.readStream.schema(ingest.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = stream.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    q.awaitTermination(180)
    assert sorted(got) == want and len(want) == 4


def test_monthly_revenue_merge_stream_equals_batch(spark, tmp_path):
    """VERDICT r10 #6: the MV-delta contract's streaming twin, pinned.
    Micro-batch an order stream through foreachBatch, each batch folded
    into the persisted month-grain base with
    streaming.merge_partial_aggregates (the chunk-index admission
    pattern applied to an aggregate), and assert the final state is
    bit-identical to the driver-contract incremental_monthly_revenue
    query over the same orders — stream == batch == full recompute,
    which holds exactly because the cents lanes are DECIMAL partial
    sums (associative), never floats."""
    from tsdisagg_spark.streaming import merge_partial_aggregates

    rows = [
        # (o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
        #  o_orderpriority) — months recur across micro-batch cuts so the
        # merge exercises BOTH branches (existing month + new month)
        (k, k % 7, "O", float(100 + 13 * k) + 0.37, f"199{5 + k % 3}-{1 + k % 12:02d}-15", "1-URGENT")
        for k in range(1, 31)
    ]
    schema = (
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string"
    )
    orders = spark.createDataFrame(rows, schema).withColumn(
        "o_orderdate", F.col("o_orderdate").cast("timestamp")
    )
    orders.write.parquet(str(tmp_path / "orders.parquet"))
    from tsdisagg_spark.queries import QUERIES

    want = sorted(
        tuple(r)
        for r in QUERIES["incremental_monthly_revenue"](
            spark, str(tmp_path)
        ).collect()
    )

    # one file per doc-range micro-batch, drained in order
    src = str(tmp_path / "stream_src")
    for lo in range(1, 31, 8):
        orders.filter(
            (F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < lo + 8)
        ).coalesce(1).write.mode("append").parquet(src)

    cents = F.round(F.col("o_totalprice") * 100).cast("decimal(38,0)")
    agg = lambda df: df.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(
        F.sum(cents).alias("revenue_cents"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    state = {"base": None}

    def sink(bdf, _bid):
        if bdf.isEmpty():
            return
        part = agg(bdf)
        merged = (
            part
            if state["base"] is None
            else merge_partial_aggregates(
                state["base"],
                part,
                keys=("month",),
                sum_cols=("revenue_cents", "n_orders"),
            )
        )
        # the persisted month-grain base: calendar-bounded state
        state["base"] = merged.localCheckpoint()

    stream = spark.readStream.schema(orders.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = stream.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    q.awaitTermination(180)

    got = sorted(
        tuple(r)
        for r in state["base"]
        .select(
            "month",
            F.col("revenue_cents").cast("long").alias("revenue_cents"),
            F.col("n_orders").cast("long").alias("n_orders"),
        )
        .collect()
    )
    assert got == want and len(want) >= 10


def test_merge_partial_aggregates_validation_and_dotted_names(spark):
    """ADVICE r11 fix, pinned: an empty keys tuple raises the module's
    ValueError style (not an opaque IndexError), and column names
    containing dots merge correctly (DataFrame[...] refs, not F.col
    string paths that would parse the dot as a nested field)."""
    import pytest as _pytest

    from tsdisagg_spark.streaming import merge_partial_aggregates

    base = spark.createDataFrame(
        [("a", 1), (None, 2)], ["k.dot", "v.sum"]
    )
    delta = spark.createDataFrame(
        [("a", 10), ("b", 5), (None, 3)], ["k.dot", "v.sum"]
    )
    with _pytest.raises(ValueError, match="keys must be non-empty"):
        merge_partial_aggregates(base, delta, keys=(), sum_cols=("v.sum",))
    got = {
        r["k.dot"]: r["v.sum"]
        for r in merge_partial_aggregates(
            base, delta, keys=("k.dot",), sum_cols=("v.sum",)
        ).collect()
    }
    # NULL keys merge (null-safe join), dotted names resolve as names
    assert got == {"a": 11, "b": 5, None: 5}


def test_quantize_embeddings_properties(spark):
    rng = np.random.default_rng(5)
    rows = [(i, rng.standard_normal(16).astype(np.float32).tolist()) for i in range(20)]
    rows.append((99, [0.0] * 16))  # zero vector: must quantize to zeros
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["vec_id", "embedding"]))
    out = similarity.quantize_embeddings(df).toPandas()
    assert out["q"].abs().max() <= 127
    zeros = out[out.vec_id == 99]
    assert (zeros["q"] == 0).all() and len(zeros) == 16
    # reconstruction: |x - q*scale| <= scale/2 per lane
    src = {(i, p): x for i, v in rows for p, x in enumerate(v)}
    for _, r in out[out.vec_id != 99].iterrows():
        scale = r["scale_q"] / 1e9
        x = src[(r["vec_id"], r["pos"])]
        assert abs(x - r["q"] * scale) <= scale / 2 + 1e-9


def test_streaming_exact_dedup(spark, tmp_path):
    """First-wins streaming dedup: replayed payloads within the watermark
    are dropped; distinct payloads all pass."""
    from tsdisagg_spark.streaming import stream_exact_dedup

    src = str(tmp_path / "dedup_src")
    docs = pd.DataFrame(
        {
            "ts": pd.date_range("2024-01-01", periods=60, freq="1min"),
            "text": [f"payload {i % 20}" for i in range(60)],  # each text x3
        }
    )
    spark.createDataFrame(docs).write.parquet(src)
    static = spark.read.parquet(src)
    stream = spark.readStream.schema(static.schema).parquet(src)

    q = (
        stream_exact_dedup(stream, watermark="2 hours")
        .writeStream.format("memory")
        .queryName("dedup_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from dedup_sink").toPandas()
    assert len(got) == 20
    assert sorted(got["text"]) == sorted(f"payload {i}" for i in range(20))
    # batch twin agrees on the retained payload set
    batch = stream_exact_dedup(static).toPandas()
    assert sorted(batch["text"]) == sorted(got["text"])


def test_sequence_packing_property(spark):
    """Randomized packing configs vs a sequential pure-Python reference:
    the hierarchical prefix sum must equal naive concatenate-and-cut for
    every (budget, bucket_size, doc length profile)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from tsdisagg_spark.operators import packing

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        budget=st.integers(4, 300),
        bucket_size=st.integers(1, 40),
        lengths=st.lists(st.integers(1, 90), min_size=1, max_size=30),
    )
    def check(budget, bucket_size, lengths):
        rows = [
            (i, " ".join(f"t{i}_{j}" for j in range(ln)))
            for i, ln in enumerate(lengths)
        ]
        df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
        got = {
            (r.doc_id, r.bin_id): r.tokens_in_bin
            for r in packing.pack_token_stream(
                df, budget=budget, bucket_size=bucket_size
            ).collect()
        }
        want = {}
        offset = 0
        for i, ln in enumerate(lengths):  # sequential reference
            start, end = offset, offset + ln
            for b in range(start // budget, (end - 1) // budget + 1):
                want[(i, b)] = min(end, (b + 1) * budget) - max(start, b * budget)
            offset = end
        assert got == want

    check()


def test_simhash_tolerates_null_text(spark):
    """A corpus row with NULL text must be skipped (no signature), not
    crash the vectorized sign-fold."""
    from tsdisagg_spark.operators import dedup

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, None), (3, "alpha beta gamma delta")],
        "doc_id long, text string",
    )
    sims = dedup.simhash64(df).toPandas()
    assert set(sims["doc_id"]) == {1, 3}
    pairs = dedup.simhash_pairs(df, max_hamming=3).toPandas()
    assert [(r.id_a, r.id_b) for r in pairs.itertuples()] == [(1, 3)]


def test_approx_distinct_within_tolerance(spark):
    """The documented 100 TB cardinality path: approx_count_distinct (HLL++)
    must land within its configured relative error of the exact count on
    the real testdata (exact countDistinct is the small-scale oracle)."""
    from pyspark.sql import functions as F

    from tsdisagg_spark.queries import t

    li = t(spark, "/root/testdata/sf0.01", "lineitem")
    row = li.agg(
        F.countDistinct("l_partkey").alias("exact"),
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx"),
    ).collect()[0]
    assert abs(row["approx"] - row["exact"]) <= 0.06 * row["exact"], row


def test_real_decoders_roundtrip():
    """The pure-Python decoders parse GENUINE containers: WAV through the
    stdlib wave module, PPM/BMP through their documented binary layouts —
    features must equal segment means of the known raw samples."""
    import io
    import struct
    import wave as wave_mod

    import numpy as np

    # --- WAV: 512 samples 0..255 cycling, known segment means
    data = bytes(range(256)) * 2
    payload = multimodal.make_wav_pcm8(data)
    assert len(payload) == 556  # 44-byte canonical header + 512 samples
    with wave_mod.open(io.BytesIO(payload), "rb") as w:
        assert (w.getnchannels(), w.getsampwidth(), w.getnframes()) == (1, 1, 512)
    feats = multimodal.decode_wav(payload)
    assert feats.shape == (multimodal.FEATURE_DIM,)
    expected = np.frombuffer(data, np.uint8).reshape(16, 32).mean(axis=1) / 255.0
    np.testing.assert_allclose(feats, expected, rtol=1e-6)

    # truncation + zero-padding: short data pads, long data truncates
    short = multimodal.decode_wav(multimodal.make_wav_pcm8(b"\xff" * 32))
    np.testing.assert_allclose(short[0], 1.0, rtol=1e-6)
    np.testing.assert_allclose(short[1:], 0.0)

    # --- PPM: 4x4 all-128 image (with a header comment)
    ppm = b"P6\n# comment\n4 4\n255\n" + bytes([128]) * 48
    np.testing.assert_allclose(
        multimodal.decode_ppm(ppm), 128.0 / 255.0, rtol=1e-6
    )

    # --- BMP: 2x2 24-bit uncompressed, rows padded to 4 bytes
    row = bytes([10, 20, 30, 40, 50, 60]) + b"\x00\x00"  # 2px * 3B + 2B pad
    pixel_data = row * 2
    header = (
        b"BM"
        + struct.pack("<IHHI", 54 + len(pixel_data), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(pixel_data), 0, 0, 0, 0)
    )
    bmp_feats = multimodal.decode_bmp(header + pixel_data)
    assert bmp_feats.shape == (multimodal.FEATURE_DIM,)
    assert abs(bmp_feats.sum() * 255 - np.frombuffer(pixel_data, np.uint8).sum() / 1.0) < 1e-3


def test_auto_decode_dispatch():
    """Magic sniffing: real containers hit the real decoders, everything
    else falls back to the deterministic stub."""
    import numpy as np

    wav = multimodal.make_wav_pcm8(b"abc")
    np.testing.assert_array_equal(
        multimodal.auto_decode(wav, "audio"), multimodal.decode_wav(wav)
    )
    blob = b"\x89PNG not actually parseable here"
    np.testing.assert_array_equal(
        multimodal.auto_decode(blob, "image"), multimodal.fake_decode(blob, "image")
    )
    with pytest.raises(ValueError):
        multimodal.auto_decode(None, "image")


def test_extract_features_with_real_decoder(spark):
    """End-to-end: WAV assets built distributed, decoded by the REAL path
    inside mapInPandas, features equal the local decode of the same text."""
    import numpy as np

    pdf = pd.DataFrame({"doc_id": [1, 2], "text": ["hello world", ""]})
    assets = multimodal.wav_assets(spark.createDataFrame(pdf))
    out = (
        multimodal.extract_features(assets, decode_fn=multimodal.auto_decode)
        .toPandas()
        .set_index("asset_id")
    )
    assert (out["n_bytes"] == 556).all()
    local = multimodal.decode_wav(multimodal.make_wav_pcm8(b"hello world"))
    np.testing.assert_allclose(np.array(out.loc[1, "features"]), local, rtol=1e-6)
    np.testing.assert_allclose(np.array(out.loc[2, "features"]), 0.0)


def test_ppm_container_roundtrip_distributed(spark):
    """PPM assets built distributed decode through the REAL header-parsing
    path to the segment means of the original bytes."""
    import numpy as np

    pdf = pd.DataFrame({"doc_id": [1], "text": ["pixel data " * 10]})
    assets = multimodal.ppm_assets(spark.createDataFrame(pdf))
    out = (
        multimodal.extract_features(assets, decode_fn=multimodal.auto_decode)
        .toPandas()
        .set_index("asset_id")
    )
    assert (out["n_bytes"] == 525).all()  # 12-byte header + 513 RGB bytes
    local = multimodal.decode_ppm(multimodal.make_ppm(b"pixel data " * 10))
    np.testing.assert_allclose(np.array(out.loc[1, "features"]), local, rtol=1e-6)


def test_kmeans_fit_matches_numpy_lloyd(spark):
    """Distributed Lloyd (GEMM E-step + partial-sum M-step) must reproduce
    a sequential numpy Lloyd run with identical init (first-k by id),
    identical tie rule (lowest cluster index), and identical empty-cluster
    policy — centroid partial sums differ from numpy only in fp ordering."""
    rng = np.random.default_rng(7)
    n, d, k = 400, 16, 5
    X = rng.standard_normal((n, d)) + rng.integers(0, 4, n)[:, None] * 2.0
    pdf = pd.DataFrame(
        {"vec_id": np.arange(n), "embedding": [row.astype(np.float32).tolist() for row in X]}
    )
    df = spark.createDataFrame(pdf).repartition(4)

    fit = similarity.kmeans_fit(df, k=k, max_iter=8, tol=0.0)

    # sequential reference with the same rules (float32-cast input)
    Xd = np.stack(pdf["embedding"].to_numpy()).astype(float)
    C = Xd[:k].copy()
    for _ in range(8):
        assign = np.argmax(Xd @ C.T - 0.5 * (C * C).sum(axis=1), axis=1)
        for j in range(k):
            m = Xd[assign == j]
            if len(m):
                C[j] = m.mean(axis=0)
    np.testing.assert_allclose(np.array(fit["centroids"]), C, rtol=1e-9, atol=1e-9)
    assert fit["n_iter"] == 8

    assign = np.argmax(Xd @ C.T - 0.5 * (C * C).sum(axis=1), axis=1)
    inertia_ref = float(((Xd - C[assign]) ** 2).sum())
    assert abs(fit["inertia"] - inertia_ref) < 1e-6 * max(1.0, inertia_ref)

    # kmeans_assign agrees with the reference assignment
    out = similarity.kmeans_assign(df, fit["centroids"]).select("vec_id", "cluster").toPandas()
    got = out.sort_values("vec_id")["cluster"].to_numpy()
    np.testing.assert_array_equal(got, assign)


def test_kmeans_fit_converges_and_stops_early(spark):
    rng = np.random.default_rng(3)
    X = np.concatenate([rng.normal(0, 0.05, (50, 4)), rng.normal(5, 0.05, (50, 4))])
    pdf = pd.DataFrame({"vec_id": np.arange(100), "embedding": [r.tolist() for r in X]})
    df = spark.createDataFrame(pdf)
    fit = similarity.kmeans_fit(df, k=2, max_iter=20, tol=1e-8)
    assert fit["n_iter"] < 20  # two tight blobs converge in a few rounds
    # each centroid sits on one blob
    cents = np.array(fit["centroids"])
    means = sorted(cents.mean(axis=1).round(1).tolist())
    assert means[0] == 0.0 and means[1] == 5.0


def test_jaccard_pairs_property_vs_python(spark):
    """Randomized corpora vs a pure-Python shingle-set reference: the
    posting-list self-join (hashed keys, df cap off) must produce exactly
    the brute-force pair set with exactly the rounded scores."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    words = [f"w{i}" for i in range(12)]  # small vocab -> real collisions

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        docs=st.lists(
            st.lists(st.sampled_from(words), min_size=3, max_size=20),
            min_size=2,
            max_size=12,
        ),
        threshold=st.sampled_from([0.1, 0.3, 0.5]),
    )
    def check(docs, threshold):
        rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
        df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in dedup.jaccard_pairs(df, n=3, threshold=threshold).collect()
        }
        # pure-Python reference over the same shingle definition
        sets = {
            i: {
                " ".join(ws[j : j + 3])
                for j in range(max(len(ws) - 2, 0))
            }
            for i, ws in enumerate(docs)
        }
        want = {}
        ids = sorted(sets)
        for a in ids:
            for b in ids:
                if a < b and sets[a] and sets[b]:
                    inter = len(sets[a] & sets[b])
                    j = round(inter / (len(sets[a]) + len(sets[b]) - inter), 6)
                    if j >= threshold:
                        want[(a, b)] = j
        assert got == want

    check()


def test_resize_ppm_gray_box_average():
    """resize_ppm_gray must equal a hand-rolled crop + block mean."""
    rng = np.random.default_rng(5)
    data = rng.integers(0, 256, 19 * 9 * 3, dtype=np.uint8).tobytes()
    payload = multimodal.make_ppm(data, width=19, height=9)
    out = multimodal.resize_ppm_gray(payload, box=3)
    assert out.shape == (3, 6)
    img = np.frombuffer(data, dtype=np.uint8).reshape(9, 19, 3).astype(float)
    ref = (
        img[:9, :18, :]
        .reshape(3, 3, 6, 3, 3)
        .sum(axis=(1, 3, 4))
        / (27 * 255)
    )
    np.testing.assert_allclose(out, ref, rtol=1e-6)
    # the raw kernel rejects non-P6 payloads outright
    with pytest.raises(ValueError):
        multimodal.resize_ppm_gray(b"P5 1 1 255 x", box=3)


def test_resize_images_isolates_bad_assets(spark):
    """Distributed per-asset isolation: a malformed payload in the batch
    yields a null-pixel row (out_h/out_w = 0) while good assets in the
    SAME Arrow batch resize normally."""
    rng = np.random.default_rng(9)
    good = multimodal.make_ppm(
        rng.integers(0, 256, 19 * 9 * 3, dtype=np.uint8).tobytes()
    )
    pdf = pd.DataFrame(
        {
            "asset_id": [1, 2, 3],
            "payload": [good, b"not a ppm at all", good],
        }
    )
    out = (
        multimodal.resize_images(spark.createDataFrame(pdf), box=3)
        .toPandas()
        .sort_values("asset_id")
        .reset_index(drop=True)
    )
    assert list(out["asset_id"]) == [1, 2, 3]
    assert out.loc[1, "out_h"] == 0 and out.loc[1, "pixels"] is None
    for i in (0, 2):
        assert (out.loc[i, "out_h"], out.loc[i, "out_w"]) == (3, 6)
        assert len(out.loc[i, "pixels"]) == 18


def test_streaming_watermark_drops_late_data(spark, tmp_path):
    """Watermark semantics pinned end-to-end: with a 1-hour watermark and
    append output, an event arriving in a LATER micro-batch but stamped
    before the watermark cut must be dropped — the already-closed window
    emits WITHOUT it — while state for still-open windows survives."""
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tsdisagg_spark.streaming import stream_tumbling_counts

    src = tmp_path / "late_src"
    src.mkdir()

    def write_batch(name, ts_list):
        tbl = pa.table(
            {
                "ts": pa.array(
                    pd.to_datetime(ts_list).tz_localize("UTC"),
                    type=pa.timestamp("us", tz="UTC"),
                ),
                "event_type": pa.array(["a"] * len(ts_list)),
                "value": pa.array([1.0] * len(ts_list)),
            }
        )
        pq.write_table(tbl, src / name)

    # batch 1: one event in window [00:00, 01:00), one at 03:30 that
    # advances the watermark to 02:30 — the first window emits at the END
    # of the NEXT batch (Spark applies an updated watermark one trigger
    # later; a late row arriving in that same batch would still merge)
    write_batch("b1.parquet", ["2024-01-01 00:10:00", "2024-01-01 03:30:00"])
    _time.sleep(1.1)  # file-source ordering is by modification time
    # batch 2: on-time event, watermark advances to 04:00 and [00:00) is
    # emitted + its state evicted
    write_batch("b2.parquet", ["2024-01-01 05:00:00"])
    _time.sleep(1.1)
    # batch 3: a LATE event for the long-closed [00:00) window (dropped —
    # its state is gone) plus an on-time 06:30 event
    write_batch("b3.parquet", ["2024-01-01 00:20:00", "2024-01-01 06:30:00"])

    static = spark.read.parquet(str(src))
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = (
        stream_tumbling_counts(stream, window_size="1 hour", watermark="1 hour")
        .writeStream.format("memory")
        .queryName("late_counts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = (
        spark.sql("select * from late_counts")
        .toPandas()
        .sort_values("window_start")
        .reset_index(drop=True)
    )
    emitted = {
        (str(r.window_start), int(r.n_events)) for r in got.itertuples()
    }
    # the closed first window emitted WITHOUT the late 00:20 event: its
    # state was evicted when the watermark passed, so the batch-3 late row
    # had nothing to merge into and was discarded
    assert ("2024-01-01 00:00:00", 1) in emitted, emitted
    # the 03:30 window closed by batch 3's watermark advance, count 1
    assert ("2024-01-01 03:00:00", 1) in emitted, emitted
    # nothing else surfaced: no window carries the late event, and the
    # still-open 05:00 / 06:00 windows were not emitted in append mode
    assert emitted == {
        ("2024-01-01 00:00:00", 1),
        ("2024-01-01 03:00:00", 1),
    }, emitted


def test_sample_fraction_deterministic_and_nested(spark):
    """sample_fraction keeps a stable hash-bucket subset: deterministic
    across calls, approximately the requested rate, and monotone — the
    20% sample is a strict subset of the 50% sample (threshold buckets
    nest by construction, the property that makes rate changes replayable
    without reshuffling past decisions)."""
    from tsdisagg_spark.operators import sampling

    df = spark.range(4000).withColumnRenamed("id", "k")
    s20a = set(r.k for r in sampling.sample_fraction(df, 0.2, "k").collect())
    s20b = set(r.k for r in sampling.sample_fraction(df, 0.2, "k").collect())
    s50 = set(r.k for r in sampling.sample_fraction(df, 0.5, "k").collect())
    assert s20a == s20b
    assert s20a <= s50
    assert 0.15 < len(s20a) / 4000 < 0.25
    assert 0.45 < len(s50) / 4000 < 0.55
    # different salt -> different (still deterministic) subset
    s20c = set(
        r.k for r in sampling.sample_fraction(df, 0.2, "k", salt="x").collect()
    )
    assert s20c != s20a


def test_hll_sketches_merge_across_groups(spark):
    """Mergeable-sketch workflow for distinct counts at fleet scale:
    per-shard HLL sketches built independently, unioned, and estimated —
    the pattern that replaces a global COUNT DISTINCT shuffle when shards
    are processed on different days/executors.  The union estimate must
    match the exact distinct count within HLL's error envelope, and
    sketch merging must be associative (shard order irrelevant)."""
    df = (
        spark.read.parquet("/root/testdata/sf0.01/events.parquet")
        .select("user_id", (F.col("event_id") % 8).alias("shard"))
    )
    exact = df.select("user_id").distinct().count()

    shards = df.groupBy("shard").agg(F.hll_sketch_agg("user_id").alias("sk"))
    est = shards.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("e")
    ).collect()[0]["e"]
    assert abs(est - exact) <= max(0.05 * exact, 4), (est, exact)

    # associativity: merging a different shard split gives the same sketch
    shards2 = (
        df.withColumn("shard", (F.col("user_id") % 3))
        .groupBy("shard")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
    )
    est2 = shards2.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("e")
    ).collect()[0]["e"]
    assert est == est2, (est, est2)


def test_map_column_roundtrip(spark):
    """Map-typed column plumbing: per-doc word->count maps built with
    map_from_arrays survive a round trip through explode and reproduce
    the flat word counts — nested types are first-class in the engine's
    data model."""
    rows = [(1, "a b a c b a"), (2, "x y x")]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    words = F.split(F.col("text"), " ")
    uniq = F.array_distinct(words)
    counts = F.transform(
        uniq, lambda w: F.size(F.filter(words, lambda t: t == w))
    )
    mapped = df.select(
        "doc_id", F.map_from_arrays(uniq, counts).alias("wc")
    )
    flat = (
        mapped.select("doc_id", F.explode("wc").alias("word", "n"))
        .orderBy("doc_id", "word")
        .collect()
    )
    got = [(r.doc_id, r.word, r.n) for r in flat]
    assert got == [
        (1, "a", 3), (1, "b", 2), (1, "c", 1), (2, "x", 2), (2, "y", 1)
    ]
    # map_keys/map_values stay aligned
    k = mapped.select(F.size(F.map_keys("wc")).alias("n")).collect()
    v = mapped.select(F.size(F.map_values("wc")).alias("n")).collect()
    assert [r.n for r in k] == [r.n for r in v]


def test_approx_percentile_error_is_bounded(spark):
    """The README's percentile scale claim, executed: approx_percentile
    (same call shape as the exact form) lands within its documented rank
    error of the exact interpolated percentiles on real data — 1/accuracy
    relative rank error, checked via the exact quantile of the
    rank-shifted positions."""
    o = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
    acc = 1000
    rows = o.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("exact"),
        F.expr(f"approx_percentile(o_totalprice, 0.5, {acc})").alias("approx"),
        F.expr("percentile(o_totalprice, 0.5 - 2.0/" + str(acc) + ")").alias("lo"),
        F.expr("percentile(o_totalprice, 0.5 + 2.0/" + str(acc) + ")").alias("hi"),
    )
    for r in rows.collect():
        assert r["lo"] <= r["approx"] <= r["hi"], (
            r["o_orderpriority"], r["lo"], r["approx"], r["hi"], r["exact"]
        )


def test_operators_handle_empty_inputs(spark):
    """Empty-corpus degenerate cases return empty results with the right
    schema instead of crashing — the behavior a pipeline stage needs when
    an upstream filter happens to eliminate everything."""
    from tsdisagg_spark.operators import graph, packing, sampling

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    assert dedup.jaccard_pairs(empty_docs).count() == 0
    assert dedup.exact_groups(empty_docs, key_cols=["text"]).count() == 0
    assert dedup.minhash_pairs(empty_docs).count() == 0
    assert dedup.simhash_pairs(empty_docs, max_hamming=5, token_hash="md5").count() == 0

    empty_pairs = spark.createDataFrame([], "id_a long, id_b long")
    cc = graph.connected_components(empty_pairs)
    assert cc.count() == 0
    assert set(cc.columns) == {"node", "component"}

    assert packing.pack_token_stream(empty_docs, budget=64).count() == 0

    assert (
        sampling.stratified_sample(
            empty_docs.withColumn("src", F.lit("a")),
            strata_col="src",
            rates={"a": 1.0},
            key_col="doc_id",
        ).count()
        == 0
    )


def test_kmeans_fit_empty_cluster_keeps_centroid(spark):
    """Duplicate seed vectors starve the higher-indexed cluster (argmin
    ties go to the lowest index), exercising the empty-cluster policy:
    the starved centroid must survive unchanged instead of going NaN or
    collapsing the fit."""
    import numpy as np

    X = np.array(
        [[0.0, 0.0], [0.0, 0.0], [5.0, 5.0], [5.1, 5.0], [4.9, 5.0]]
    )
    pdf = pd.DataFrame(
        {"vec_id": range(len(X)), "embedding": [r.tolist() for r in X]}
    )
    fit = similarity.kmeans_fit(
        spark.createDataFrame(pdf), k=2, max_iter=5, tol=0.0
    )
    cents = np.array(fit["centroids"])
    # round 1: both seeds are [0,0], ties go to cluster 0, so cluster 1 is
    # EMPTY — the keep-previous-centroid policy holds it at [0,0], which is
    # exactly what lets it capture the zero points in round 2 once cluster
    # 0's centroid has moved to the global mean.  Final state: cluster 1
    # owns the zeros, cluster 0 converges onto the 5-ish blob.
    np.testing.assert_allclose(cents[1], [0.0, 0.0], atol=1e-12)
    np.testing.assert_allclose(cents[0], X[2:].mean(axis=0), rtol=1e-12)
    assert np.isfinite(cents).all()
    # a collapsed policy (NaN or zeroed centroid) would also break inertia
    assert fit["inertia"] < 0.05


def _levenshtein(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@pytest.mark.parametrize("k", [1, 2, 3])
def test_segment_blocked_pairs_match_bruteforce(spark, k):
    """PassJoin segment blocking finds EXACTLY the brute-force pair set:
    a tiny alphabet plus planted near-duplicates makes true pairs dense
    enough that any hole in the pigeonhole enumeration (segment partition
    rule, shift windows, pair-order normalization, dedup) shows up."""
    import random

    from tsdisagg_spark.operators import linkage

    rng = random.Random(11)
    strs = [
        "".join(rng.choice("abc") for _ in range(rng.randint(4, 10)))
        for _ in range(50)
    ]
    # planted mutations: substitution, insertion, deletion off existing rows
    for base in strs[:10]:
        pos = rng.randrange(len(base))
        strs.append(base[:pos] + rng.choice("abc") + base[pos + 1 :])
        strs.append(base[:pos] + rng.choice("abc") + base[pos:])
        if len(base) > 4:
            strs.append(base[:pos] + base[pos + 1 :])
    rows = [(i, s) for i, s in enumerate(strs)]

    expected = {
        (i, j, _levenshtein(si, sj))
        for (i, si) in rows
        for (j, sj) in rows
        if i < j and _levenshtein(si, sj) <= k
    }

    df = spark.createDataFrame(rows, ["rid", "txt"])
    got = {
        (r.id_a, r.id_b, r.distance)
        for r in linkage.edit_distance_pairs(
            df, id_col="rid", text_col="txt", k=k
        ).collect()
    }
    assert got == expected


def test_bmp_roundtrip_decodes_exact_bytes():
    """make_bmp -> auto_decode is a true container round-trip: the decoded
    segment means are the exact per-segment byte sums of the input data
    (the width-20 default keeps rows 4-byte aligned, so no padding bytes
    pollute the pixel array)."""
    data = bytes(range(256)) * 3  # 768 bytes -> truncated to 540
    payload = multimodal.make_bmp(data)
    assert payload[:2] == b"BM" and len(payload) == 54 + 540
    feats = multimodal.auto_decode(payload, "image")
    body = np.frombuffer(data[:540], dtype=np.uint8).astype(np.float64)
    padded = np.zeros(544)
    padded[:540] = body
    expected = padded.reshape(16, 34).sum(axis=1) / (34 * 255.0)
    np.testing.assert_allclose(feats, expected.astype(np.float32), rtol=1e-6)


def test_bloom_filter_no_false_negatives(spark):
    """Defining Bloom invariant: every inserted key is claimed present,
    whatever the load factor — checked at a deliberately tiny m (189
    bits, heavy collisions) so bit packing and word addressing are
    stressed; false positives on non-members are allowed and counted."""
    from tsdisagg_spark.operators import sketches

    members = spark.range(0, 200).withColumnRenamed("id", "k")
    others = spark.range(200, 400).withColumnRenamed("id", "k")
    bloom = sketches.bloom_build(members, "k", m_bits=189, n_hashes=2)
    # filter is word-packed: at most ceil(189/63)=3 rows
    assert bloom.count() <= 3

    probed_in = sketches.bloom_probe(members, bloom, "k", m_bits=189, n_hashes=2)
    assert probed_in.filter(~F.col("claimed")).count() == 0

    # at 400 keys in 189 bits the filter saturates: most non-members will
    # false-positive, but the probe must still be deterministic
    probed_out = sketches.bloom_probe(others, bloom, "k", m_bits=189, n_hashes=2)
    again = sketches.bloom_probe(others, bloom, "k", m_bits=189, n_hashes=2)
    assert (
        probed_out.orderBy("k").collect() == again.orderBy("k").collect()
    )


def test_bloom_filter_sparse_rejects_non_members(spark):
    """With a generously sized filter the FP rate is near zero: all 500
    non-members must be rejected (expected FPs ~ 500 * (2*100/64512)^2
    ~ 0.005), proving claimed=false actually happens and missing words
    behave as all-zero."""
    from tsdisagg_spark.operators import sketches

    members = spark.range(0, 100).withColumnRenamed("id", "k")
    others = spark.range(1000, 1500).withColumnRenamed("id", "k")
    bloom = sketches.bloom_build(members, "k", m_bits=64512, n_hashes=2)
    probed = sketches.bloom_probe(others, bloom, "k", m_bits=64512, n_hashes=2)
    assert probed.filter(F.col("claimed")).count() == 0


def test_cms_never_undercounts(spark):
    """Count-min invariant at a deliberately tiny width (16 columns, heavy
    collisions): every estimate >= the true count, and keys the sketch
    never saw estimate to a plain collision load, never negative."""
    from tsdisagg_spark.operators import sketches

    events = spark.range(0, 1000).select(
        (F.col("id") % 37).alias("k")  # zipf-free but collision-rich
    )
    cms = sketches.cms_build(events, "k", width=16, depth=3)
    truth = events.groupBy("k").agg(F.count(F.lit(1)).alias("true_n"))
    est = sketches.cms_estimate(truth, cms, "k", width=16, depth=3)
    rows = est.collect()
    assert all(r.est >= r.true_n for r in rows)
    assert len(rows) == 37

    unseen = spark.range(1000, 1020).withColumnRenamed("id", "k")
    est0 = sketches.cms_estimate(unseen, cms, "k", width=16, depth=3)
    assert all(r.est >= 0 for r in est0.collect())


def test_pagerank_matches_numpy_power_iteration(spark):
    """pagerank() equals the dense power iteration on a small graph with
    a dangling node (node 3 has no out-edges), weighted edges, and an
    asymmetric cycle — damping, out-weight normalization, and dangling
    redistribution all in play."""
    from tsdisagg_spark.operators import graph

    edges = [(0, 1, 1.0), (0, 2, 3.0), (1, 2, 1.0), (2, 0, 1.0), (1, 3, 2.0)]
    df = spark.createDataFrame(edges, ["src", "dst", "w"])
    got = {
        r.node: r.rank
        for r in graph.pagerank(df, "src", "dst", "w", iterations=5).collect()
    }

    N, d = 4, 0.85
    P = np.zeros((N, N))
    for s, t_, w in edges:
        P[s, t_] = w
    out = P.sum(axis=1)
    r = np.full(N, 1.0 / N)
    for _ in range(5):
        contrib = np.zeros(N)
        dang = 0.0
        for u in range(N):
            if out[u] > 0:
                contrib += r[u] * P[u] / out[u]
            else:
                dang += r[u]
        r = (1 - d) / N + d * (contrib + dang / N)
    for node in range(N):
        np.testing.assert_allclose(got[node], r[node], rtol=1e-12)
    np.testing.assert_allclose(sum(got.values()), 1.0, rtol=1e-12)


def test_new_operator_empty_and_degenerate_inputs(spark):
    """Edge battery for the round's operators: empty inputs yield empty
    (not errors), degenerate graphs and exact-duplicate strings behave."""
    from tsdisagg_spark.operators import graph, linkage, sketches

    empty_keys = spark.range(0).withColumnRenamed("id", "k")
    probe = spark.range(5).withColumnRenamed("id", "k")

    # Bloom over nothing: empty filter, every probe rejected
    bloom = sketches.bloom_build(empty_keys, "k", m_bits=189, n_hashes=2)
    assert bloom.count() == 0
    probed = sketches.bloom_probe(probe, bloom, "k", m_bits=189, n_hashes=2)
    assert probed.filter(F.col("claimed")).count() == 0

    # CMS over nothing: every estimate 0
    cms = sketches.cms_build(empty_keys, "k", width=16, depth=2)
    est = sketches.cms_estimate(probe, cms, "k", width=16, depth=2)
    assert [r.est for r in est.collect()] == [0] * 5

    # linkage: empty corpus and all-too-short corpus both yield no pairs;
    # exact duplicates surface at distance 0
    empty_docs = spark.createDataFrame([], "rid long, txt string")
    assert linkage.edit_distance_pairs(empty_docs, "rid", "txt", k=2).count() == 0
    tiny = spark.createDataFrame([(1, "ab"), (2, "ab")], ["rid", "txt"])
    assert linkage.edit_distance_pairs(tiny, "rid", "txt", k=2).count() == 0
    dups = spark.createDataFrame(
        [(1, "hello"), (2, "hello"), (3, "goodbye")], ["rid", "txt"]
    )
    got = linkage.edit_distance_pairs(dups, "rid", "txt", k=1).collect()
    assert [(r.id_a, r.id_b, r.distance) for r in got] == [(1, 2, 0)]

    # pagerank: a single self-loop node holds all the rank; an isolated
    # two-node edge pair still sums to 1
    loop = spark.createDataFrame([(7, 7, 1.0)], ["src", "dst", "w"])
    r = graph.pagerank(loop, iterations=3).collect()
    assert len(r) == 1 and abs(r[0].rank - 1.0) < 1e-12
    two = spark.createDataFrame([(1, 2, 1.0)], ["src", "dst", "w"])
    rs = {x.node: x.rank for x in graph.pagerank(two, iterations=4).collect()}
    assert abs(sum(rs.values()) - 1.0) < 1e-12 and rs[2] > rs[1]


def test_weighted_sample_biases_toward_heavy_rows(spark):
    """Efraimidis-Spirakis sanity: with weights spanning 1..1000 the
    sampled mean weight must exceed the population mean (heavy rows are
    overrepresented), the sample is exactly n without replacement, and
    re-running returns the identical set."""
    from tsdisagg_spark.operators import sampling

    rows = [(i, float(1 + (i * 37) % 1000)) for i in range(2000)]
    df = spark.createDataFrame(rows, ["k", "w"])
    s1 = sampling.weighted_sample(df, "k", "w", n=100)
    got = s1.collect()
    assert len(got) == 100
    assert len({r.k for r in got}) == 100
    pop_mean = sum(w for _, w in rows) / len(rows)
    samp_mean = sum(r.w for r in got) / len(got)
    assert samp_mean > 1.15 * pop_mean, (samp_mean, pop_mean)
    s2 = sampling.weighted_sample(df, "k", "w", n=100)
    assert {r.k for r in s2.collect()} == {r.k for r in got}


def test_kmv_exact_below_k_and_estimates_above(spark):
    """KMV contract: groups under k report exactly; groups over k report
    (k-1)/h_k with bounded relative error for this fixed hash draw."""
    from tsdisagg_spark.operators import sketches

    rows = (
        [("small", i) for i in range(20)]
        + [("big", i) for i in range(10_000)]
    )
    df = spark.createDataFrame(rows, ["g", "k"])
    out = {
        r.g: (r.n_seen, r.est_distinct)
        for r in sketches.kmv_distinct(
            df, "k", group_cols=["g"], k=64
        ).collect()
    }
    assert out["small"] == (20, 20.0)          # exact branch
    n_seen, est = out["big"]
    assert n_seen == 64
    assert abs(est - 10_000) / 10_000 < 0.5    # ~12% sd; 4-sigma guard


def test_kmv_is_mergeable_across_partitions(spark):
    """The sketch is a pure function of the key SET: estimates are
    identical however the input is partitioned or duplicated — the
    mergeability that lets daily sketches combine into monthly ones."""
    from tsdisagg_spark.operators import sketches

    keys = spark.range(0, 5000).withColumnRenamed("id", "k")
    dup = keys.union(keys).union(keys).repartition(13)
    a = sketches.kmv_distinct(keys, "k", k=32).collect()[0]
    b = sketches.kmv_distinct(dup, "k", k=32).collect()[0]
    assert (a.n_seen, a.est_distinct) == (b.n_seen, b.est_distinct)


def test_hll_registers_match_pure_python(spark):
    """The register table is a pure function of the key set: every
    (bucket, rho) must equal a reference HLL computed row-by-row in
    Python over the same md5 split (first 32 bits -> bucket, next 32 ->
    leading-zero rank)."""
    import hashlib

    from tsdisagg_spark.operators import sketches

    keys = list(range(300))
    p, m = 5, 32
    expect: dict[int, int] = {}
    for k in keys:
        h = hashlib.md5(f"{k}:hll".encode()).hexdigest()
        bucket = int(h[:8], 16) % m
        v = int(h[8:16], 16)
        rho = 33 if v == 0 else 33 - v.bit_length()
        expect[bucket] = max(expect.get(bucket, 0), rho)
    df = spark.createDataFrame([(k,) for k in keys], ["k"])
    got = {
        r.bucket: r.rho
        for r in sketches.hll_registers(df, "k", p=p).collect()
    }
    assert got == expect


def test_hll_estimate_accuracy_and_branches(spark):
    """Raw branch within ~4 sigma (1.04/sqrt(m)) of a large truth; a
    small key set lands in the linear-counting branch and reports near-
    exactly; duplicated/re-partitioned input changes nothing (the sketch
    sees the key SET)."""
    from tsdisagg_spark.operators import sketches

    p, m = 7, 128
    big = spark.range(0, 50_000).withColumnRenamed("id", "k")
    regs = sketches.hll_registers(big, "k", p=p)
    est = sketches.hll_estimate(regs, p=p).collect()[0]
    assert abs(est.est_distinct - 50_000) / 50_000 < 4 * 1.04 / m**0.5
    dup = big.union(big).repartition(7)
    est2 = sketches.hll_estimate(
        sketches.hll_registers(dup, "k", p=p), p=p
    ).collect()[0]
    assert (est2.n_occupied, est2.est_distinct) == (
        est.n_occupied,
        est.est_distinct,
    )
    small = spark.range(0, 40).withColumnRenamed("id", "k")
    s = sketches.hll_estimate(
        sketches.hll_registers(small, "k", p=p), p=p
    ).collect()[0]
    assert s.n_occupied < m  # must be the linear-counting branch
    assert abs(s.est_distinct - 40) / 40 < 0.25


def test_hll_merge_is_union(spark):
    """Sketch algebra: merging the registers of two disjoint halves gives
    BIT-IDENTICAL registers (and therefore the identical estimate) to
    sketching the concatenated input — the property that lets daily
    sketches roll up without re-reading raw keys."""
    from tsdisagg_spark.operators import sketches

    p = 6
    a = spark.range(0, 900).withColumnRenamed("id", "k")
    b = spark.range(600, 1500).withColumnRenamed("id", "k")
    merged = sketches.hll_merge(
        sketches.hll_registers(a, "k", p=p).unionByName(
            sketches.hll_registers(b, "k", p=p)
        )
    )
    direct = sketches.hll_registers(a.unionByName(b), "k", p=p)
    assert {(r.bucket, r.rho) for r in merged.collect()} == {
        (r.bucket, r.rho) for r in direct.collect()
    }
    em = sketches.hll_estimate(merged, p=p).collect()[0]
    ed = sketches.hll_estimate(direct, p=p).collect()[0]
    assert (em.n_occupied, em.est_distinct) == (ed.n_occupied, ed.est_distinct)


def test_hll_rejects_bad_precision(spark):
    from tsdisagg_spark.operators import sketches

    df = spark.createDataFrame([(1,)], ["k"])
    for bad in (3, 17):
        try:
            sketches.hll_registers(df, "k", p=bad)
            raise AssertionError("expected ValueError")
        except ValueError as e:
            assert "[4, 16]" in str(e)


def test_key_skew_profile_hand_computed(spark):
    """Known distribution [6,2,1,1]: every field of the one-row profile
    is checkable by hand, including the inverted-CDF quantile semantics
    (p50 over per-key counts {1,1,2,6} is 1 — smallest count whose
    cumulative key share reaches half)."""
    from tsdisagg_spark.operators import profiling

    rows = [("a",)] * 6 + [("b",)] * 2 + [("c",)] + [("d",)]
    df = spark.createDataFrame(rows, ["k"])
    r = profiling.key_skew_profile(df, "k").collect()[0]
    assert (r.n_rows, r.n_keys, r.max_per_key) == (10, 4, 6)
    assert (r.q_1_2, r.q_9_10, r.q_99_100) == (1, 6, 6)
    assert r.skew_ratio == 2.4


def test_vocab_coverage_tie_break_and_rates(spark):
    """The vocabulary boundary tie (three tokens at count 1, one slot
    left) must resolve by token ascending — a total order, so the vocab
    and the per-group OOV rates are fully determined."""
    from tsdisagg_spark.operators import profiling

    df = spark.createDataFrame(
        [("g1", "x x y z"), ("g2", "x q q w")], ["source", "text"]
    )
    out = {
        r.source: (r.n_tokens, r.n_in_vocab, r.oov_rate)
        for r in profiling.vocab_coverage(df, vocab_size=3).collect()
    }
    # vocab = {x(3), q(2), w(1 — wins the y/z tie alphabetically)}
    assert out["g1"] == (4, 2, 0.5)
    assert out["g2"] == (4, 4, 0.0)
    try:
        profiling.vocab_coverage(df, vocab_size=0)
        raise AssertionError("expected ValueError")
    except ValueError as e:
        assert ">= 1" in str(e)


def test_cdf_distance_exact_ks(spark):
    """Hand-computed KS: {1,2,3} vs {2,3,4} differ by exactly 1/3 at
    every step; an identical group reports 0; the baseline itself is
    excluded from the output."""
    from tsdisagg_spark.operators import profiling

    rows = (
        [("base", v) for v in (1, 2, 3)]
        + [("shift", v) for v in (2, 3, 4)]
        + [("same", v) for v in (1, 2, 3)]
    )
    df = spark.createDataFrame(rows, ["g", "v"])
    out = {
        r.g: (r.n, r.ks)
        for r in profiling.cdf_distance(df, "v", "g", "base").collect()
    }
    assert set(out) == {"shift", "same"}
    assert out["shift"] == (3, 0.333333)
    assert out["same"] == (3, 0.0)


def test_join_cardinality_exact_and_empty(spark):
    """sum_k cA(k)*cB(k) must equal the actual join's row count on a
    hand-checkable case (keys a:2x3, b:1x1 -> 7 rows, top key 6/7); a
    disjoint pair reports zeros rather than nulls or an empty frame."""
    from tsdisagg_spark.operators import profiling

    a = spark.createDataFrame([("a",), ("a",), ("b",), ("c",)], ["k"])
    b = spark.createDataFrame([("a",)] * 3 + [("b",), ("z",)], ["k"])
    r = profiling.join_cardinality(a, b, "k").collect()[0]
    assert (r.est_rows, r.n_matching_keys, r.max_key_contrib) == (7, 2, 6)
    assert r.top1_share == round(6 / 7, 6)
    assert r.est_rows == a.join(b, "k").count()
    z = profiling.join_cardinality(
        a, spark.createDataFrame([("q",)], ["k"]), "k"
    ).collect()[0]
    assert (z.est_rows, z.n_matching_keys, z.max_key_contrib, z.top1_share) \
        == (0, 0, 0, 0.0)


def test_pagerank_large_graph_branch_identical_and_partitioned(spark):
    """broadcast_threshold=0 forces the large-graph physical strategy
    (hash-partitioned contribution vector, no coalesce(1)) on the same
    input; ranks must be identical to the small-graph branch to float
    dust, and the per-iteration checkpoint must not be single-partition."""
    from tsdisagg_spark.operators import graph

    edges = [(0, 1, 1.0), (0, 2, 3.0), (1, 2, 1.0), (2, 0, 1.0), (1, 3, 2.0)]
    df = spark.createDataFrame(edges, ["src", "dst", "w"])
    small = {
        r.node: r.rank
        for r in graph.pagerank(df, "src", "dst", "w", iterations=4).collect()
    }
    large = {
        r.node: r.rank
        for r in graph.pagerank(
            df, "src", "dst", "w", iterations=4, broadcast_threshold=0
        ).collect()
    }
    assert small.keys() == large.keys()
    for k in small:
        np.testing.assert_allclose(small[k], large[k], rtol=1e-12)


def test_pagerank_checkpoint_blocks_do_not_accumulate(spark):
    """Iterative checkpointing must release the previous iteration's
    storage blocks: after a many-iteration run the number of NEW
    persistent RDDs is O(1) (the final checkpoint + the two persisted
    invariant frames), not O(iterations)."""
    from tsdisagg_spark.operators import graph

    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    df = spark.createDataFrame(
        [(i, (i + 1) % 10, 1.0) for i in range(10)], ["src", "dst", "w"]
    )
    ranks = graph.pagerank(df, "src", "dst", "w", iterations=8)
    total = ranks.agg(F.sum("rank")).collect()[0][0]
    assert abs(total - 1.0) < 1e-9
    after = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    new = after - before
    # norm + nodes persists and at most the last checkpoint survive; 8
    # iterations MUST NOT leave ~8 checkpointed RDDs behind
    assert len(new) <= 4, f"leaked {len(new)} persistent RDDs: {sorted(new)}"


def test_connected_components_checkpoint_blocks_do_not_accumulate(spark):
    """The large/small-star loop must release each round's checkpoint
    blocks as the next round materializes: on a long chain (many rounds to
    converge) the number of NEW persistent RDDs left behind is O(1) — the
    untracked initial checkpoint and the kept final one — not O(rounds)."""
    from tsdisagg_spark.operators import graph

    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    # a 200-node chain: worst-case diameter for min-label reach, several
    # large/small-star rounds for the O(log^2 n) algorithm
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], ["id_a", "id_b"]
    )
    comps = graph.connected_components(chain)
    got = {r.node: r.component for r in comps.collect()}
    assert set(got.values()) == {0} and len(got) == 201
    after = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    new = after - before
    assert len(new) <= 3, f"leaked {len(new)} persistent RDDs: {sorted(new)}"


def test_pagerank_empty_graph_returns_empty(spark):
    """An empty edge list must return an empty (node, rank) frame — not
    raise ZeroDivisionError on the 1/n_nodes seed (regression: the
    driver-side count formulation divided before checking)."""
    from tsdisagg_spark.operators import graph

    empty = spark.createDataFrame([], "src long, dst long, w double")
    out = graph.pagerank(empty, "src", "dst", "w", iterations=3)
    assert out.columns == ["node", "rank"]
    assert out.count() == 0


def test_pagerank_release_diff_is_exactly_one_checkpoint(spark):
    """The per-iteration RDD-id diff must contain ONLY that iteration's
    checkpoint RDD — never the iteration-invariant norm/nodes caches
    (regression: iteration 0's checkpoint job used to be what first
    materialized norm's cache, so norm's id landed in the diff and
    iteration 1 unpersisted it, re-deriving the edge aggregation every
    round)."""
    from tsdisagg_spark.operators import graph

    released: list[set] = []
    orig = graph._release_checkpoint_blocks

    def spy(sc, rdd_ids):
        released.append(set(rdd_ids))
        orig(sc, rdd_ids)

    graph._release_checkpoint_blocks = spy
    try:
        df = spark.createDataFrame(
            [(i, (i + 1) % 6, 1.0) for i in range(6)], ["src", "dst", "w"]
        )
        total = (
            graph.pagerank(df, "src", "dst", "w", iterations=4)
            .agg(F.sum("rank"))
            .collect()[0][0]
        )
    finally:
        graph._release_checkpoint_blocks = orig
    assert abs(total - 1.0) < 1e-9
    # 4 iterations -> 4 release calls; first is the empty pre-loop set,
    # every later one is exactly the previous iteration's checkpoint RDD
    assert len(released) == 4
    assert released[0] == set()
    for ids in released[1:]:
        assert len(ids) == 1, f"over-collected release set: {ids}"


def test_wide_bands_rejects_invalid_band_counts(spark):
    """Direct wide_bands callers get the same clear ValueError as
    simhash_pairs_wide — n_bands=1 would need a >60-bit LongType mask and
    n_bands=7 does not divide 120 (regression: these failed deep in Py4J
    with an opaque overflow)."""
    sims = spark.createDataFrame([(1, 5, 9)], ["doc_id", "sim_lo", "sim_hi"])
    for bad in (1, 7, 0):
        with pytest.raises(ValueError, match="divide 120"):
            dedup.wide_bands(sims, "doc_id", n_bands=bad)
    # a valid layout still works
    assert dedup.wide_bands(sims, "doc_id", n_bands=6).count() == 6


def test_release_all_frees_pair_caches_and_checkpoint_blocks(spark):
    """cacheutil.release_all must leave ZERO persisted RDDs after the two
    cache classes the operators create: pair-family persists (posting
    lists/signatures, caller-managed lifetime) and iterative-operator
    localCheckpoint blocks (invisible to catalog.clearCache) — and the
    session must still run fresh queries afterwards."""
    from tsdisagg_spark import cacheutil
    from tsdisagg_spark.operators import graph

    rows = [(i, f"doc number {i} shares shingle text body {i % 3}") for i in range(30)]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    dedup.jaccard_pairs(docs, threshold=0.2).count()  # persists postings+pairs
    edges = spark.createDataFrame([(1, 2, 1.0), (2, 3, 1.0)], ["src", "dst", "w"])
    graph.pagerank(edges, "src", "dst", "w", iterations=3).count()  # leaves ckpt
    assert cacheutil.persistent_rdd_ids(spark), "expected live caches before release"
    cacheutil.release_all(spark)
    assert cacheutil.persistent_rdd_ids(spark) == []
    # the session is still healthy: a fresh query computes from source
    assert dedup.exact_groups(docs, key_cols=["text"]).count() > 0
    cacheutil.release_all(spark)
    assert cacheutil.persistent_rdd_ids(spark) == []


def test_bench_cleanup_path_releases_graph_checkpoint_blocks(spark):
    """bench.py's per-rep cleanup MUST be release_all, not clearCache: the
    iterative graph headline queries return DataFrames backed by
    localCheckpoint blocks invisible to the catalog's cache manager, so a
    clearCache-only rep loop left residue that made the end-of-run
    zero-leak gate unsatisfiable and aborted the whole run (BENCH_r07
    rc=1, parsed:null).  This drives one graph headline query through the
    exact bench rep loop — noop write, then release_all — and asserts the
    gate's precondition holds."""
    import os

    from tsdisagg_spark import cacheutil
    from tsdisagg_spark import queries as registry

    sf_dir = os.environ.get("TSD_TEST_SF_DIR", "/root/testdata/sf0.001")
    for _ in range(2):  # two reps, like BENCH_REPS=2
        registry.QUERIES["copurchase_kcore"](spark, sf_dir).write.format(
            "noop"
        ).mode("overwrite").save()
        # regression guard for the root cause: clearCache alone is NOT
        # enough after a graph query — blocks must remain for release_all
        spark.catalog.clearCache()
        assert cacheutil.persistent_rdd_ids(spark), (
            "copurchase_kcore no longer leaves localCheckpoint blocks past "
            "clearCache — bench.py's release_all comment is stale, revisit"
        )
        cacheutil.release_all(spark)
        assert cacheutil.persistent_rdd_ids(spark) == []


def test_real_decoder_set_is_pinned():
    """Which media decode REAL in this container (multimodal.auto_decode's
    magic sniffing): WAV-PCM, binary PPM, and uncompressed BMP — and
    nothing else.  JPEG/PNG/FLAC payloads must route to the deterministic
    stub.  If a future environment grows codec libraries, extend
    auto_decode AND this pin together so coverage flips visibly."""
    wav = multimodal.make_wav_pcm8(b"audio-bytes")
    ppm = multimodal.make_ppm(b"pixel-bytes")
    bmp = multimodal.make_bmp(b"pixel-bytes")
    jpeg = b"\xff\xd8\xff\xe0" + b"\x00" * 64
    png = b"\x89PNG\r\n\x1a\n" + b"\x00" * 64
    flac = b"fLaC" + b"\x00" * 64

    assert multimodal.decode_status(wav) == "real:wav-pcm"
    assert multimodal.decode_status(ppm) == "real:ppm"
    assert multimodal.decode_status(bmp) == "real:bmp"
    for stub_payload, mt in [(jpeg, "image"), (png, "image"), (flac, "audio")]:
        assert multimodal.decode_status(stub_payload) == "stub"
        # the stub fallback is what auto_decode actually executes
        np.testing.assert_array_equal(
            multimodal.auto_decode(stub_payload, mt),
            multimodal.fake_decode(stub_payload, mt),
        )
    assert multimodal.REAL_CONTAINERS == {"wav-pcm", "ppm", "bmp"}
    # and the real paths go through the genuine decoders
    np.testing.assert_array_equal(
        multimodal.auto_decode(wav, "audio"), multimodal.decode_wav(wav)
    )
    np.testing.assert_array_equal(
        multimodal.auto_decode(ppm, "image"), multimodal.decode_ppm(ppm)
    )
    np.testing.assert_array_equal(
        multimodal.auto_decode(bmp, "image"), multimodal.decode_bmp(bmp)
    )


def test_semantic_dedup_matches_bruteforce(spark):
    """semantic_dedup equals the brute-force restatement of its contract on
    a corpus with planted near-duplicates: assign to nearest seed by
    squared distance (lowest seed on ties), then flag any vector with a
    lower-id same-cluster neighbor at rounded-cosine >= threshold."""
    import numpy as np

    from tsdisagg_spark.operators import similarity

    rng = np.random.default_rng(7)
    base = rng.normal(size=(40, 8)).astype(np.float32)
    # plant near-dups: rows 30..39 are tiny perturbations of rows 0..9
    base[30:40] = base[0:10] + rng.normal(scale=1e-3, size=(10, 8)).astype(
        np.float32
    )
    df = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    out = {
        r.vec_id: (r.cluster, r.is_dup)
        for r in similarity.semantic_dedup(
            df, n_clusters=4, threshold=0.99
        ).collect()
    }

    v = base.astype(np.float64)
    seeds = v[:4]
    d2 = ((v[:, None, :] - seeds[None, :, :]) ** 2).sum(axis=2)
    cluster = d2.argmin(axis=1)  # numpy argmin = lowest index on ties
    nrm = np.sqrt((v * v).sum(axis=1))
    expect_dup = set()
    for b in range(40):
        for a in range(b):
            if cluster[a] == cluster[b] and round(
                float(v[a] @ v[b] / (nrm[a] * nrm[b])), 6
            ) >= 0.99:
                expect_dup.add(b)
                break
    assert len(out) == 40
    for i in range(40):
        assert out[i][0] == cluster[i], i
        assert out[i][1] == (i in expect_dup), i
    # the planted copies are exactly the flagged set
    assert expect_dup == set(range(30, 40))


def test_quota_sample_equals_single_window(spark):
    """The salted two-phase quota selection equals the single-window
    definition row-for-row, including on a pathologically skewed group
    (one domain holding 80% of rows), and never exceeds the cap."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from tsdisagg_spark.operators import sampling

    rows = [(i, "big" if i < 800 else f"s{i % 7}") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    got = {
        (r.source, r.doc_id, r.quota_rank)
        for r in sampling.quota_sample(
            df, group_col="source", key_col="doc_id", n=25, n_salts=8
        ).collect()
    }

    hkey = F.concat(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("quota"))),
        F.col("doc_id").cast("string"),
    )
    w = Window.partitionBy("source").orderBy(hkey)
    want = {
        (r.source, r.doc_id, r.quota_rank)
        for r in df.withColumn("quota_rank", F.row_number().over(w))
        .filter(F.col("quota_rank") <= 25)
        .collect()
    }
    assert got == want
    per_group = {}
    for s, _, _ in got:
        per_group[s] = per_group.get(s, 0) + 1
    assert per_group["big"] == 25
    assert all(v <= 25 for v in per_group.values())


def test_shard_assignment_deterministic_and_balanced(spark):
    """Shards are a pure function of the key (stable across partitionings),
    land in [0, n), and split ~evenly."""
    from tsdisagg_spark.operators import sampling

    df = spark.range(2000).withColumnRenamed("id", "doc_id")
    a = {
        r.doc_id: r.shard
        for r in sampling.shard_assignment(df, "doc_id", 16).collect()
    }
    b = {
        r.doc_id: r.shard
        for r in sampling.shard_assignment(
            df.repartition(7), "doc_id", 16
        ).collect()
    }
    assert a == b
    assert set(a.values()) <= set(range(16))
    counts = [list(a.values()).count(s) for s in range(16)]
    assert min(counts) > 2000 / 16 * 0.6 and max(counts) < 2000 / 16 * 1.5


def test_semantic_dedup_gemm_backend_matches_expr(spark):
    """The BLAS pair stage (collected seeds + kmeans_assign GEMM +
    per-cluster blocked GEMM) reproduces the Catalyst fold path
    row-for-row — the scale backend is semantically the same operator."""
    import numpy as np

    from tsdisagg_spark.operators import similarity

    rng = np.random.default_rng(11)
    base = rng.normal(size=(120, 12)).astype(np.float32)
    base[100:120] = base[0:20] + rng.normal(
        scale=1e-3, size=(20, 12)
    ).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(120)],
        "vec_id long, embedding array<float>",
    )
    a = {
        (r.vec_id, r.cluster, r.is_dup)
        for r in similarity.semantic_dedup(
            df, n_clusters=5, threshold=0.99
        ).collect()
    }
    b = {
        (r.vec_id, r.cluster, r.is_dup)
        for r in similarity.semantic_dedup(
            df, n_clusters=5, threshold=0.99, backend="gemm"
        ).collect()
    }
    assert a == b
    with pytest.raises(ValueError):
        similarity.semantic_dedup(df, backend="blas")


def test_window_dup_stats_matches_bruteforce(spark):
    """window_dup_stats equals a literal Python restatement on a corpus
    with a planted repeated passage: coverage is the union of flagged
    windows, short docs yield zero windows, and within-doc repetition
    counts toward the census."""
    passage = "the quick brown fox jumps over the lazy dog again and again"
    docs = [
        (0, f"alpha beta {passage} gamma delta epsilon"),
        (1, f"zeta eta theta iota {passage} kappa"),
        (2, "totally unrelated words that repeat nothing of note here"),
        (3, "short doc"),
        # within-doc repetition: the same 6-gram twice in one document
        (4, "x1 x2 x3 x4 x5 x6 filler x1 x2 x3 x4 x5 x6 tail"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    W = 6
    out = {
        r.doc_id: (r.n_tokens, r.dup_tokens, r.dup_frac)
        for r in dedup.window_dup_stats(df, window=W).collect()
    }

    toks = {i: t.lower().strip().split() for i, t in docs}
    from collections import Counter

    census = Counter()
    wins = {}
    for i, w in toks.items():
        wins[i] = [
            (p, " ".join(w[p : p + W])) for p in range(len(w) - W + 1)
        ]
        census.update(g for _, g in wins[i])
    for i, w in toks.items():
        cov = set()
        for p, g in wins[i]:
            if census[g] >= 2:
                cov.update(range(p, p + W))
        assert out[i] == (
            len(w),
            len(cov),
            round(len(cov) / len(w), 6),
        ), i
    # sanity: the planted passage was actually caught, the clean doc not
    assert out[0][1] > 0 and out[1][1] > 0 and out[4][1] > 0
    assert out[2][1] == 0 and out[3][1] == 0


def test_semantic_probe_durable_index_and_broadcast_plan(spark, tmp_path):
    """The semantic cluster index survives a parquet round-trip (assignment
    is a deterministic fold, so a probe against the re-read index equals
    the inline result), probe output matches brute force, and the probe
    plan BROADCASTS the batch — the corpus index side carries no
    exchange."""
    import numpy as np

    from tsdisagg_spark.operators import similarity

    rng = np.random.default_rng(3)
    base = rng.normal(size=(60, 8)).astype(np.float32)
    base[55:60] = base[10:15] + rng.normal(scale=1e-3, size=(5, 8)).astype(
        np.float32
    )
    df = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    seeds = df.filter((F.col("vec_id") < 4)).select(
        F.col("vec_id").alias("seed_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("seed"),
    )
    corpus = df.filter(F.col("vec_id") % 4 != 3)
    batch = df.filter(F.col("vec_id") % 4 == 3)

    index = similarity.semantic_index(corpus, seeds)
    inline = {
        (r.batch_id, r.corpus_id, r.cosine)
        for r in similarity.semantic_probe(
            batch, index, seeds, threshold=0.99
        ).collect()
    }

    # durable: write, re-read in a fresh frame, probe again
    path = str(tmp_path / "sem_index")
    index.write.parquet(path)
    reread = spark.read.parquet(path)
    durable = {
        (r.batch_id, r.corpus_id, r.cosine)
        for r in similarity.semantic_probe(
            batch, reread, seeds, threshold=0.99
        ).collect()
    }
    assert durable == inline

    # brute force: same seeds, same argmin, same rounded-cosine rule
    v = base.astype(np.float64)
    sd = v[:4]
    d2 = ((v[:, None, :] - sd[None, :, :]) ** 2).sum(axis=2)
    cl = d2.argmin(axis=1)
    nrm = np.sqrt((v * v).sum(axis=1))
    expect = set()
    for b in range(60):
        if b % 4 != 3:
            continue
        for c in range(60):
            if c % 4 == 3 or cl[b] != cl[c]:
                continue
            cos = round(float(v[b] @ v[c] / (nrm[b] * nrm[c])), 6)
            if cos >= 0.99:
                expect.add((b, c, cos))
    assert {(b, c) for b, c, _ in inline} == {(b, c) for b, c, _ in expect}

    plan = similarity.semantic_probe(
        batch, reread, seeds, threshold=0.99
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the index side of the cluster join must stream from the scan with
    # no exchange: every Exchange in the plan belongs to the (small)
    # batch-assignment subtree, whose scans are in-memory LocalTableScans
    for frag in plan.split("Exchange")[1:]:
        assert "Scan parquet" not in frag.split("BroadcastHashJoin")[0]


def test_semantic_probe_gemm_backend_matches_expr(spark):
    """The cogrouped per-cluster GEMM probe emits exactly the expr
    backend's pairs with cosines equal on the 6-decimal grid (the 5e-7
    cut slack admits boundary rows the fold also admits)."""
    import numpy as np

    from tsdisagg_spark.operators import similarity

    rng = np.random.default_rng(11)
    base = rng.normal(size=(80, 6)).astype(np.float32)
    base[70:80] = base[0:10] + rng.normal(scale=1e-3, size=(10, 6)).astype(
        np.float32
    )
    df = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(80)],
        "vec_id long, embedding array<float>",
    )
    seeds = df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("seed_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("seed"),
    )
    corpus = df.filter(F.col("vec_id") % 4 != 0)
    batch = df.filter(F.col("vec_id") % 4 == 0)

    def run(backend):
        index = similarity.semantic_index(corpus, seeds, backend=backend)
        return {
            (r.batch_id, r.corpus_id, r.cosine)
            for r in similarity.semantic_probe(
                batch, index, seeds, threshold=0.5, backend=backend
            ).collect()
        }

    expr = run("expr")
    gemm = run("gemm")
    assert {(b, c) for b, c, _ in expr} == {(b, c) for b, c, _ in gemm}
    ge = {(b, c): s for b, c, s in gemm}
    for b, c, s in expr:
        assert abs(ge[(b, c)] - s) <= 1e-6


# ---------------------------------------------------------------------------
# heavy_hitters_exact — two-phase Misra–Gries candidates + exact recount
# ---------------------------------------------------------------------------


def test_heavy_hitters_exact_matches_bruteforce(spark):
    """Zipf-ish stream across many partitions: the two-phase plan returns
    EXACTLY the keys with count > n/k, with exact counts, regardless of
    partitioning (candidates are a superset by the pigeonhole bound; the
    recount is exact)."""
    from tsdisagg_spark.operators import sketches

    rng = np.random.default_rng(11)
    keys = [f"k{int(z)}" for z in rng.zipf(1.3, 20_000) if z < 5_000]
    pdf = pd.DataFrame({"term": keys})
    df = spark.createDataFrame(pdf).repartition(8)
    for k in (5, 50, 400):
        got = {
            (r["term"], r["cnt"])
            for r in sketches.heavy_hitters_exact(df, "term", k=k).collect()
        }
        vc = pdf["term"].value_counts()
        n = len(pdf)
        want = {
            (term, int(c)) for term, c in vc.items() if c * k > n
        }
        assert got == want, f"k={k}: {got ^ want}"


def test_heavy_hitters_candidate_state_is_bounded(spark):
    """Phase-1 candidate output is <= k rows per partition even when the
    distinct-key cardinality vastly exceeds k (the whole point: the
    full vocabulary never crosses an exchange)."""
    from tsdisagg_spark.operators import sketches

    df = spark.range(0, 30_000, 1, 4).select(
        F.concat(F.lit("u"), (F.col("id") % 25_000)).alias("term")
    )
    out_schema = df.schema
    import pandas as pd_mod

    # re-run only phase 1, counting its emitted rows per partition
    k = 16
    def mg_partition(batches):
        counts: dict = {}
        for pdf in batches:
            for key, c in pdf["term"].value_counts().items():
                counts[key] = counts.get(key, 0) + int(c)
            if len(counts) > k:
                kth = sorted(counts.values(), reverse=True)[k]
                counts = {
                    key: c - kth for key, c in counts.items() if c > kth
                }
        yield pd_mod.DataFrame({"term": list(counts.keys())})

    cand_rows = df.mapInPandas(mg_partition, schema=out_schema).count()
    assert cand_rows <= k * 4
    # and the end-to-end answer on this near-uniform stream is empty
    # (no key's count exceeds n/k), which must come back exact, not noisy
    assert sketches.heavy_hitters_exact(df, "term", k=k).count() == 0


def test_heavy_hitters_majority_and_validation(spark):
    from tsdisagg_spark.operators import sketches

    with pytest.raises(ValueError, match="k must be"):
        sketches.heavy_hitters_exact(
            spark.createDataFrame(pd.DataFrame({"t": ["a"]})), "t", k=0
        )
    # k=2 is the strict-majority query (count > n/2): present -> found
    maj = spark.createDataFrame(
        pd.DataFrame({"t": ["a"] * 6 + ["b"] * 3 + ["c"] * 2})
    ).repartition(3)
    assert [
        (r["t"], r["cnt"])
        for r in sketches.heavy_hitters_exact(maj, "t", k=2).collect()
    ] == [("a", 6)]
    # exact 50/50 split: 5*2 > 10 is false -> no majority, exactly empty
    split = spark.createDataFrame(
        pd.DataFrame({"t": ["a"] * 5 + ["b"] * 5})
    ).repartition(3)
    assert sketches.heavy_hitters_exact(split, "t", k=2).count() == 0


def test_heavy_hitters_null_key_counted(spark):
    """A NULL key whose count exceeds n/k is a heavy hitter like any
    other value (regression: pandas value_counts' default dropna=True
    silently excluded nulls from the candidate phase, and the plain-
    equality recount join could never match one)."""
    from tsdisagg_spark.operators import sketches

    # string key: 6 nulls, 5 'a', 2 'b' over 13 rows; k=3 -> threshold
    # 13/3: null (6) and 'a' (5) qualify, 'b' does not
    sdf = spark.createDataFrame(
        pd.DataFrame({"t": [None] * 6 + ["a"] * 5 + ["b"] * 2})
    ).repartition(3)
    got = {
        r["t"]: r["cnt"]
        for r in sketches.heavy_hitters_exact(sdf, "t", k=3).collect()
    }
    assert got == {None: 6, "a": 5}
    # long key with nulls: same shape through the Arrow int path
    ldf = spark.createDataFrame(
        pd.DataFrame({"v": pd.array([None] * 6 + [7] * 5 + [9] * 2,
                                    dtype="Int64")})
    ).repartition(3)
    got_l = {
        r["v"]: r["cnt"]
        for r in sketches.heavy_hitters_exact(ldf, "v", k=3).collect()
    }
    assert got_l == {None: 6, 7: 5}


def test_heavy_hitters_double_key_nan_vs_null(spark):
    """Double-typed keys: SQL NULL and the NaN VALUE are distinct keys in
    Spark but indistinguishable at the pandas phase-1 boundary (both
    arrive as NaN), so the None candidate stands for the class and the
    recount join must admit NaN rows on it — previously NULL<=>NaN was
    false and a NaN heavy hitter silently vanished (ADVICE r07).  The
    exact recount then separates the two groups."""
    from tsdisagg_spark.operators import sketches

    nan = float("nan")
    # 7 NaN, 6 NULL, 5x 1.5, 2x 2.5 over 20 rows; k=4 -> threshold 20/4=5:
    # NaN (7) and NULL (6) qualify (strictly > 5), 1.5 (=5) and 2.5 do not
    vals = [nan] * 7 + [None] * 6 + [1.5] * 5 + [2.5] * 2
    df = spark.createDataFrame(
        [(v,) for v in vals], schema="x double"
    ).repartition(3)
    rows = sketches.heavy_hitters_exact(df, "x", k=4).collect()
    got = {
        ("nan" if r["x"] is not None and r["x"] != r["x"] else r["x"]): r["cnt"]
        for r in rows
    }
    assert got == {"nan": 7, None: 6}


def test_jaccard_prefix_equals_bruteforce_posting_join(spark):
    """jaccard_pairs_prefix == uncapped jaccard_pairs exactly, across
    thresholds (including a non-dyadic one that exercises the exact
    rational prefix arithmetic) — prefix filtering is a pure candidate
    optimization, never a semantics change."""
    rng = np.random.default_rng(5)
    vocab = [f"w{i}" for i in range(60)]
    base = [
        " ".join(rng.choice(vocab, size=rng.integers(8, 25)))
        for _ in range(40)
    ]
    docs = list(base)
    # planted near-dups: tail-mutated copies
    for i in range(0, 20, 2):
        words = base[i].split()
        words[-1] = "mutated"
        docs.append(" ".join(words))
    pdf = pd.DataFrame({"doc_id": range(len(docs)), "text": docs})
    df = spark.createDataFrame(pdf).repartition(5)
    for t in (0.3, 0.5, 0.8):
        got = {
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in dedup.jaccard_pairs_prefix(df, threshold=t).collect()
        }
        want = {
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in dedup.jaccard_pairs(df, threshold=t).collect()
        }
        assert got == want, f"threshold {t}: {got ^ want}"
        if t == 0.5:
            assert got, "planted near-dups must be found"
    spark.catalog.clearCache()


def test_jaccard_prefix_skips_frequent_shingles_and_validates(spark):
    """A boilerplate shingle shared by every document must not appear in
    any prefix (it has maximal df, so it sorts to every suffix) — the
    candidate join stays small even with 100%-df shingles present; and
    the result still counts that shared evidence exactly."""
    boiler = "the quick brown fox says"
    docs = [f"{boiler} unique{i} tail{i} extra{i}" for i in range(12)]
    docs.append(f"{boiler} unique0 tail0 extra0")  # exact dup of doc 0
    pdf = pd.DataFrame({"doc_id": range(len(docs)), "text": docs})
    df = spark.createDataFrame(pdf)
    got = dedup.jaccard_pairs_prefix(df, threshold=0.9).collect()
    assert {(r["id_a"], r["id_b"]) for r in got} == {(0, 12)}
    assert got[0]["jaccard"] == 1.0
    with pytest.raises(ValueError, match="threshold"):
        dedup.jaccard_pairs_prefix(df, threshold=0.0)
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# kcore — exact iterative peeling
# ---------------------------------------------------------------------------


def _peel_reference(edge_list, k):
    """Brute-force confluent peel: the unique k-core as {node: degree}."""
    import collections

    adj = collections.defaultdict(set)
    for u, v in edge_list:
        if u != v:
            adj[u].add(v)
            adj[v].add(u)
    alive = set(adj)
    while True:
        drop = {x for x in alive if len(adj[x] & alive) < k}
        if not drop:
            break
        alive -= drop
    return {x: len(adj[x] & alive) for x in alive}


def test_kcore_matches_bruteforce_peel(spark):
    from tsdisagg_spark.operators import graph

    rng = np.random.default_rng(23)
    edge_list = {
        (int(a), int(b))
        for a, b in rng.integers(0, 60, size=(600, 2))
        if a != b
    }
    edges = spark.createDataFrame(
        pd.DataFrame(edge_list, columns=["id_a", "id_b"])
    ).repartition(4)
    for k in (2, 5, 10, 15):
        got = {
            (r["node"], r["core_degree"])
            for r in graph.kcore(edges, k=k).collect()
        }
        want = set(_peel_reference(edge_list, k).items())
        assert got == want, f"k={k}"


def test_kcore_cascade_and_edge_cases(spark):
    from tsdisagg_spark.operators import graph

    # a path cascades to nothing under k=2 (ends peel first, then inward)
    path = spark.createDataFrame(
        pd.DataFrame({"id_a": range(9), "id_b": range(1, 10)})
    )
    assert graph.kcore(path, k=2).count() == 0
    # a cycle IS its own 2-core, every degree exactly 2
    cyc = spark.createDataFrame(
        pd.DataFrame({"id_a": list(range(6)), "id_b": [1, 2, 3, 4, 5, 0]})
    )
    rows = graph.kcore(cyc, k=2).collect()
    assert {r["node"] for r in rows} == set(range(6))
    assert all(r["core_degree"] == 2 for r in rows)
    # cycle + pendant: pendant (and only it) is peeled
    pend = spark.createDataFrame(
        pd.DataFrame({"id_a": [0, 1, 2, 0], "id_b": [1, 2, 0, 99]})
    )
    assert {r["node"] for r in graph.kcore(pend, k=2).collect()} == {0, 1, 2}
    with pytest.raises(ValueError, match="k must be"):
        graph.kcore(path, k=0)


def test_kcore_rounds_budget_certification(spark):
    """``rounds_budget`` is the unrolled-oracle certification: a budget
    that covers the actual peel depth passes; one that doesn't raises
    KCoreRoundBudgetExceeded BY NAME at build time (never a silent hash
    mismatch downstream)."""
    from tsdisagg_spark.operators import graph

    # 9-node path under k=2 peels inward from both ends: 4 shrinking
    # rounds to empty, so budget >= 4 passes and budget 2 must raise
    path = spark.createDataFrame(
        pd.DataFrame({"id_a": range(9), "id_b": range(1, 10)})
    )
    assert graph.kcore(path, k=2, rounds_budget=8).count() == 0
    from tsdisagg_spark import cacheutil

    cacheutil.release_all(spark)  # isolate the leak assertion below
    with pytest.raises(graph.KCoreRoundBudgetExceeded, match="certified"):
        graph.kcore(path, k=2, rounds_budget=2).count()
    # the abandoned run must not orphan its edges/round checkpoints — a
    # long-lived session would otherwise trip the sweep/bench zero-leak
    # gates with a misleading signature (ADVICE r07)
    assert cacheutil.persistent_rdd_ids(spark) == []
    # already-at-fixpoint graph: one confirming pass fits any budget >= 1
    cyc = spark.createDataFrame(
        pd.DataFrame({"id_a": list(range(6)), "id_b": [1, 2, 3, 4, 5, 0]})
    )
    assert graph.kcore(cyc, k=2, rounds_budget=1).count() == 6


def test_ngram_novelty_brute_force(spark):
    """Per-doc novel-gram fractions against a Python brute force, plus the
    short-document NULL contract."""
    from tsdisagg_spark.operators import text as text_ops

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                "a b c d e",          # all grams novel
                "a b c d e f",        # shares a prefix with doc 1
                "x y",                # < 3 words: no grams
                "a b c d e",          # exact dup of doc 1: zero novel
            ],
        }
    )
    out = (
        text_ops.ngram_novelty(spark.createDataFrame(docs), n=3)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    seen: dict[str, int] = {}
    for _, r in docs.sort_values("doc_id").iterrows():
        w = r["text"].lower().split()
        grams = {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}
        for g in grams:
            seen.setdefault(g, r["doc_id"])
        n_novel = sum(1 for g in grams if seen[g] == r["doc_id"])
        assert out.loc[r["doc_id"], "n_grams"] == len(grams)
        assert out.loc[r["doc_id"], "n_novel"] == n_novel
        if grams:
            assert out.loc[r["doc_id"], "novelty"] == n_novel / len(grams)
    assert out.loc[3, "n_grams"] == 0 and pd.isna(out.loc[3, "novelty"])
    assert out.loc[4, "n_novel"] == 0 and out.loc[4, "novelty"] == 0.0
    with pytest.raises(ValueError):
        text_ops.ngram_novelty(spark.createDataFrame(docs), n=0)


def test_group_ols_trend_matches_numpy(spark):
    """Slope/intercept per group vs numpy lstsq on the same integer data;
    degenerate groups (single point, vertical line) return NULL."""
    from tsdisagg_spark.operators import timeseries as ts_ops

    rng = np.random.default_rng(7)
    rows = []
    for g in ("a", "b"):
        for x in range(12):
            rows.append((g, x, int(1000 + 50 * x + rng.integers(-20, 20))))
    rows.append(("single", 5, 42))        # one point: den == 0
    rows.append(("vertical", 3, 10))      # all x equal: den == 0
    rows.append(("vertical", 3, 99))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["g", "x", "y"]))
    out = (
        ts_ops.group_ols_trend(df, ["g"], "x", "y")
        .toPandas()
        .set_index("g")
    )
    pdf = pd.DataFrame(rows, columns=["g", "x", "y"])
    for g in ("a", "b"):
        sub = pdf[pdf.g == g]
        slope, intercept = np.polyfit(sub.x, sub.y, 1)
        assert abs(out.loc[g, "slope"] - slope) < 1e-9
        assert abs(out.loc[g, "intercept"] - intercept) < 1e-9
        assert out.loc[g, "n_points"] == len(sub)
    assert pd.isna(out.loc["single", "slope"])
    assert pd.isna(out.loc["single", "intercept"])
    assert pd.isna(out.loc["vertical", "slope"])


def test_naive_backtest_brute_force(spark):
    from tsdisagg_spark.operators import timeseries as ts_ops

    rows = []
    # seasonal series: period-4 pattern + drift -> seasonal lag must win
    pat = [100, 500, 300, 900]
    for i, x in enumerate([pat[i % 4] + i for i in range(16)]):
        rows.append(("seasonal", i, x))
    # smooth ramp -> naive (lag-1) must win
    for i in range(16):
        rows.append(("ramp", i, 1000 + 7 * i))
    rows.append(("short", 0, 1))  # < seasons+1 points: drops out
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["g", "p", "y"]))
    out = (
        ts_ops.naive_backtest(df, ["g"], ord_col="p", value_col="y", seasons=4)
        .toPandas()
        .set_index("g")
    )
    assert "short" not in out.index
    pdf = pd.DataFrame(rows, columns=["g", "p", "y"])
    for g in ("seasonal", "ramp"):
        s = pdf[pdf.g == g].sort_values("p")["y"].reset_index(drop=True)
        evals = range(4, len(s))
        mae_n = np.mean([abs(s[i] - s[i - 1]) for i in evals])
        mae_s = np.mean([abs(s[i] - s[i - 4]) for i in evals])
        assert out.loc[g, "n_evals"] == len(s) - 4
        assert abs(out.loc[g, "mae_naive"] - mae_n) < 1e-12
        assert abs(out.loc[g, "mae_seasonal"] - mae_s) < 1e-12
    assert out.loc["seasonal", "better_model"] == "seasonal"
    assert out.loc["ramp", "better_model"] == "naive"


def test_cusum_series_brute_force(spark):
    """Fold values vs a Python replay; a planted level shift grows
    cusum_pos while the pre-shift noise stays near zero."""
    from tsdisagg_spark.operators import timeseries as ts_ops

    rng = np.random.default_rng(11)
    base = list(rng.normal(10.0, 0.5, 20)) + list(rng.normal(14.0, 0.5, 20))
    rows = [("s1", i, float(x)) for i, x in enumerate(base)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["g", "p", "x"]))
    out = (
        ts_ops.cusum_series(df, ["g"], ord_col="p", value_col="x", k=0.0)
        .toPandas()
        .sort_values("p")
        .reset_index(drop=True)
    )
    target = 0.0
    for x in base:
        target += x
    target /= len(base)
    sp = sn = 0.0
    for i, x in enumerate(base):
        if i > 0:
            sp = max(0.0, sp + (x - target - 0.0))
            sn = max(0.0, sn - (x - target) - 0.0)
        assert out.loc[i, "cusum_pos"] == sp, i
        assert out.loc[i, "cusum_neg"] == sn, i
    # the shift is detected: max positive CUSUM far above the noise floor
    assert out["cusum_pos"].max() > 10 * out.loc[:19, "cusum_pos"].max() + 1


def test_theil_sen_trend_brute_force(spark):
    """Median of pairwise slopes vs a numpy brute force; an injected
    outlier month barely moves Theil-Sen while it wrecks OLS."""
    from tsdisagg_spark.operators import timeseries as ts_ops

    rng = np.random.default_rng(3)
    rows = []
    ys = {}
    for g in ("clean", "outlier"):
        y = [1000 + 37 * x + int(rng.integers(-5, 5)) for x in range(15)]
        if g == "outlier":
            y[7] += 100000
        ys[g] = y
        rows += [(g, x, y[x]) for x in range(15)]
    rows.append(("lonely", 0, 5))  # single point: no pairs, drops out
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["g", "x", "y"]))
    out = (
        ts_ops.theil_sen_trend(df, ["g"], "x", "y").toPandas().set_index("g")
    )
    assert "lonely" not in out.index
    for g in ("clean", "outlier"):
        y = ys[g]
        slopes = sorted(
            (y[j] - y[i]) / (j - i)
            for i in range(15)
            for j in range(i + 1, 15)
        )
        n = len(slopes)
        med = (
            slopes[n // 2]
            if n % 2 == 1
            else (slopes[n // 2 - 1] + slopes[n // 2]) / 2
        )
        assert out.loc[g, "n_slopes"] == n
        assert out.loc[g, "theil_sen_slope"] == med
    # robustness: the outlier series' Theil-Sen slope stays near 37
    assert abs(out.loc["outlier", "theil_sen_slope"] - 37) < 40


def test_novelty_probe_brute_force(spark):
    """Batch-vs-index novelty against a Python brute force, including the
    zero-gram batch document and a fully-seen document."""
    from tsdisagg_spark.operators import text as text_ops

    corpus = pd.DataFrame(
        {"doc_id": [1, 2], "text": ["a b c d e", "x y z w v"]}
    )
    batch = pd.DataFrame(
        {
            "doc_id": [10, 11, 12, 13],
            "text": [
                "a b c d e",      # every gram already in corpus -> 0 new
                "a b c q r s",    # mixed
                "p q",            # < 3 words: no grams
                "m n o p q",      # all new
            ],
        }
    )
    index = text_ops.novelty_index(spark.createDataFrame(corpus), n=3)
    out = (
        text_ops.novelty_probe(spark.createDataFrame(batch), index, n=3)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    corpus_grams = set()
    for txt in corpus["text"]:
        w = txt.lower().split()
        corpus_grams |= {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}
    for _, r in batch.iterrows():
        w = r["text"].lower().split()
        grams = {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}
        new = {g for g in grams if g not in corpus_grams}
        assert out.loc[r["doc_id"], "n_grams"] == len(grams)
        assert out.loc[r["doc_id"], "n_new"] == len(new)
    assert out.loc[10, "n_new"] == 0 and out.loc[10, "novelty_vs_corpus"] == 0.0
    assert pd.isna(out.loc[12, "novelty_vs_corpus"])
    assert out.loc[13, "novelty_vs_corpus"] == 1.0
    with pytest.raises(ValueError):
        text_ops.novelty_probe(spark.createDataFrame(batch), index, n=0)


def test_stream_novelty_probe_matches_batch(docs, tmp_path):
    """novelty_probe is stateless per micro-batch (its docstring's
    streaming claim): a parquet-source document stream scored against the
    static gram index inside foreachBatch must reproduce the batch
    result exactly."""
    from tsdisagg_spark.operators import text as text_ops

    spark = docs.sparkSession
    batch_pdf = pd.DataFrame(
        [
            (900, "the quick brown fox jumps over the lazy dog"),
            (901, "entirely new content nothing like the corpus at all"),
            (902, "xy"),
        ],
        columns=["doc_id", "text"],
    )
    batch_static = spark.createDataFrame(batch_pdf)
    src = str(tmp_path / "novelty_stream")
    batch_static.write.parquet(src)

    index = text_ops.novelty_index(docs, n=3)
    want = sorted(
        map(tuple, text_ops.novelty_probe(batch_static, index, n=3).collect())
    )
    assert want and any(r[2] > 0 for r in want)  # 901 has new grams

    got: list = []

    def sink(micro, _epoch):
        got.extend(
            map(tuple, text_ops.novelty_probe(micro, index, n=3).collect())
        )

    q = (
        spark.readStream.schema(batch_static.schema)
        .parquet(src)
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(got) == want


def test_gram_matrix_exact_vs_numpy(spark):
    """The batched int64 GEMM equals a single numpy brute force on the
    identical quantization, including symmetry-triangle completeness."""
    rng = np.random.default_rng(21)
    d = 8
    rows = [(i, rng.standard_normal(d).astype(np.float32).tolist()) for i in range(57)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["vec_id", "embedding"]))
    out = similarity.gram_matrix(df, scale=1000).toPandas()
    assert len(out) == d * (d + 1) // 2
    arr = np.stack([np.array(v, dtype=np.float32) for _, v in rows]).astype(np.float64)
    q = np.floor(arr * 1000.0 + 0.5).astype(np.int64)
    want = q.T @ q
    for _, r in out.iterrows():
        assert r["gram_c"] == want[int(r["i"]), int(r["j"])]
        assert r["gram"] == float(want[int(r["i"]), int(r["j"])])
        assert r["i"] <= r["j"]


def test_pca_scores_matches_numpy(spark):
    """The distributed fit+project pipeline reproduces single-node numpy
    PCA on the identical quantized input (same sign convention), the
    score covariance is diagonal, and per-component variances equal the
    eigenvalues in descending order."""
    rng = np.random.default_rng(17)
    d, n, k = 12, 300, 4
    # anisotropic cloud so components are well separated
    basis = rng.standard_normal((d, d))
    scales = np.linspace(6, 0.1, d)
    data = (rng.standard_normal((n, d)) * scales) @ basis
    rows = [(i, data[i].astype(np.float32).tolist()) for i in range(n)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["vec_id", "embedding"]))
    out = similarity.pca_scores(df, k=k, scale=1000).toPandas()
    scores = (
        out.pivot(index="vec_id", columns="comp", values="score")
        .sort_index()
        .to_numpy()
    )
    # numpy reference on the same quantization
    q = np.floor(np.stack([np.array(v, np.float32) for _, v in rows]).astype(np.float64) * 1000.0 + 0.5)
    c = np.cov(q, rowvar=False)
    w, v = np.linalg.eigh(c)
    order = np.argsort(w)[::-1][:k]
    comps = v[:, order]
    flips = np.sign(comps[np.abs(comps).argmax(axis=0), np.arange(k)])
    comps = comps * np.where(flips == 0, 1.0, flips)
    want = (q - q.mean(axis=0)) @ comps
    assert np.allclose(scores, want, rtol=1e-9, atol=1e-6)
    # decorrelation + eigenvalue ordering
    sc = np.cov(scores, rowvar=False)
    off = sc - np.diag(np.diag(sc))
    assert np.abs(off).max() < np.diag(sc).max() * 1e-9
    assert (np.diff(np.diag(sc)) <= 1e-6).all()
    assert np.allclose(np.diag(sc), w[order], rtol=1e-9)
    with pytest.raises(ValueError):
        similarity.pca_scores(df, k=0)
    with pytest.raises(ValueError):
        similarity.pca_scores(df, k=d + 1)


def test_token_budget_sample_brute_force(spark):
    """Admission equals a Python replay of the md5-order prefix-sum rule;
    budgets are reached-or-exceeded whenever material exists."""
    import hashlib

    from tsdisagg_spark.operators import sampling as sampling_ops

    rows = [("en", i, 10 + (i % 7)) for i in range(30)]
    rows += [("de", 100 + i, 50) for i in range(3)]   # tiny group
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["lang", "doc_id", "n_tokens"]))
    out = (
        sampling_ops.token_budget_sample(
            df, "lang", "doc_id", "n_tokens", budget=60
        )
        .toPandas()
        .sort_values("doc_id")
    )
    for lang in ("en", "de"):
        grp = [(d, w) for (l, d, w) in rows if l == lang]
        order = sorted(
            grp,
            key=lambda t: hashlib.md5(f"{t[0]}budget".encode()).hexdigest()
            + str(t[0]),
        )
        cum, want = 0, {}
        for d, wt in order:
            if cum < 60:
                want[d] = cum
            cum += wt
        got = out[out.lang == lang]
        assert dict(zip(got.doc_id, got.cum_before)) == want
        kept_total = sum(w for d, w in grp if d in want)
        assert kept_total >= min(60, sum(w for _, w in grp))
    with pytest.raises(ValueError):
        sampling_ops.token_budget_sample(df, "lang", "doc_id", "n_tokens", 0)


def test_stream_cusum_matches_batch_across_microbatches(spark, tmp_path):
    """stream_cusum must equal the fixed-target batch fold BIT-FOR-BIT,
    including state carried across micro-batch boundaries
    (maxFilesPerTrigger=1 forces one file per batch)."""
    from tsdisagg_spark.operators import timeseries as ts_ops
    from tsdisagg_spark.streaming import stream_cusum

    rng = np.random.default_rng(29)
    rows = []
    for uid in (1, 2):
        level = 10.0 if uid == 1 else 14.0  # user 2 drifts above target
        for i in range(40):
            rows.append(
                (
                    uid,
                    pd.Timestamp("2024-01-01") + pd.Timedelta(minutes=i),
                    float(level + rng.normal(0, 0.3)),
                )
            )
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "value"]).sort_values("ts")
    half = pd.Timestamp("2024-01-01") + pd.Timedelta(minutes=20)
    src = tmp_path / "cusum_stream"
    src.mkdir()
    spark.createDataFrame(pdf[pdf.ts < half]).coalesce(1).write.parquet(
        str(src / "b0")
    )
    spark.createDataFrame(pdf[pdf.ts >= half]).coalesce(1).write.parquet(
        str(src / "b1")
    )

    want = (
        ts_ops.cusum_series(
            spark.createDataFrame(pdf), ["user_id"], "ts", "value",
            k=0.0, target=10.0,
        )
        .toPandas()
        .sort_values(["user_id", "ts"])
        .reset_index(drop=True)
    )

    got: list = []

    def sink(batch, _epoch):
        got.extend(map(tuple, batch.collect()))

    stream = (
        spark.readStream.schema(spark.createDataFrame(pdf).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q = (
        stream_cusum(stream, target=10.0)
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got_df = (
        pd.DataFrame(got, columns=["user_id", "ts", "cusum_pos", "cusum_neg"])
        .sort_values(["user_id", "ts"])
        .reset_index(drop=True)
    )
    assert len(got_df) == len(want)
    assert (got_df["cusum_pos"].to_numpy() == want["cusum_pos"].to_numpy()).all()
    assert (got_df["cusum_neg"].to_numpy() == want["cusum_neg"].to_numpy()).all()
    # the drifting user actually alarms
    assert want[want.user_id == 2]["cusum_pos"].max() > 50


def test_stream_ewma_matches_batch_across_microbatches(spark, tmp_path):
    """stream_ewma equals ewma_series(round_to=None) bit-for-bit with
    state carried across micro-batches."""
    from tsdisagg_spark.operators import timeseries as ts_ops
    from tsdisagg_spark.streaming import stream_ewma

    rng = np.random.default_rng(31)
    rows = []
    for uid in (1, 2):
        for i in range(30):
            rows.append(
                (
                    uid,
                    pd.Timestamp("2024-02-01") + pd.Timedelta(minutes=i),
                    float(rng.normal(5 * uid, 1.0)),
                )
            )
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "value"]).sort_values("ts")
    half = pd.Timestamp("2024-02-01") + pd.Timedelta(minutes=15)
    src = tmp_path / "ewma_stream"
    src.mkdir()
    spark.createDataFrame(pdf[pdf.ts < half]).coalesce(1).write.parquet(str(src / "b0"))
    spark.createDataFrame(pdf[pdf.ts >= half]).coalesce(1).write.parquet(str(src / "b1"))

    want = (
        ts_ops.ewma_series(
            spark.createDataFrame(pdf), ["user_id"], "ts", "value",
            alpha=0.5, round_to=None,
        )
        .toPandas()
        .sort_values(["user_id", "ts"])
        .reset_index(drop=True)
    )
    got: list = []

    def sink(batch, _epoch):
        got.extend(map(tuple, batch.collect()))

    stream = (
        spark.readStream.schema(spark.createDataFrame(pdf).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q = (
        stream_ewma(stream, alpha=0.5)
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got_df = (
        pd.DataFrame(got, columns=["user_id", "ts", "ewma"])
        .sort_values(["user_id", "ts"])
        .reset_index(drop=True)
    )
    assert len(got_df) == len(want)
    assert (got_df["ewma"].to_numpy() == want["ewma"].to_numpy()).all()


def test_stream_fold_out_of_order_arrival_is_arrival_order_fold(spark, tmp_path):
    """Out-of-order FILE arrival for the no-watermark fold pair: the file
    with LATER timestamps lands first, so the fold state advances past the
    second file's rows.  Pinned semantics (module docstring): the result
    is the deterministic fold of the ARRIVAL-order sequence — in-batch
    (ts)-sorted, batches in arrival order — NOT the batch twin's fully
    sorted fold."""
    from tsdisagg_spark.streaming import stream_ewma

    alpha = 0.5
    base = pd.Timestamp("2024-06-01")
    late_chunk = pd.DataFrame(  # earlier timestamps, arrives SECOND
        {
            "user_id": [1] * 5,
            "ts": [base + pd.Timedelta(minutes=i) for i in range(5)],
            "value": [float(10 + i) for i in range(5)],
        }
    )
    early_chunk = pd.DataFrame(  # later timestamps, arrives FIRST
        {
            "user_id": [1] * 5,
            "ts": [base + pd.Timedelta(minutes=10 + i) for i in range(5)],
            "value": [float(i) for i in range(5)],
        }
    )
    src = tmp_path / "ooo_stream"
    src.mkdir()
    schema = spark.createDataFrame(early_chunk).schema
    spark.createDataFrame(early_chunk).coalesce(1).write.parquet(str(src / "b0"))
    spark.createDataFrame(late_chunk).coalesce(1).write.parquet(str(src / "b1"))

    got: list = []

    def sink(batch, _epoch):
        got.extend(map(tuple, batch.collect()))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q = (
        stream_ewma(stream, alpha=alpha)
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # expected: fold over arrival order (early_chunk sorted, then
    # late_chunk sorted), matched back to each row's timestamp
    arrival = pd.concat(
        [early_chunk.sort_values("ts"), late_chunk.sort_values("ts")],
        ignore_index=True,
    )
    s, exp = None, {}
    for _, r in arrival.iterrows():
        s = r["value"] if s is None else alpha * r["value"] + (1 - alpha) * s
        exp[r["ts"]] = s
    got_map = {ts: v for _uid, ts, v in got}
    assert len(got_map) == len(exp)
    for ts, want in exp.items():
        assert got_map[ts] == want, ts  # bit-exact, same IEEE fold
    # and it genuinely differs from the fully-sorted batch fold
    s = None
    for _, r in arrival.sort_values("ts").iterrows():
        s = r["value"] if s is None else alpha * r["value"] + (1 - alpha) * s
    assert got_map[arrival["ts"].max()] != s


def test_stateful_sessions_drops_late_events_behind_watermark(spark, tmp_path):
    """stateful_sessions enforces the watermark itself: a late echo of an
    already-closed session (older than the current watermark) is dropped
    before the session fold — it neither reopens the closed session nor
    spawns a phantom one — while late-but-live rows merge into the open
    session.  The divergence from the batch twin (which would count the
    echo) is the documented bounded-state contract."""
    from tsdisagg_spark.streaming import stateful_sessions

    def mk(rows):
        return pd.DataFrame(
            {
                "user_id": [r[0] for r in rows],
                "ts": [pd.Timestamp(r[1]) for r in rows],
                "value": [float(r[2]) for r in rows],
            }
        )

    # file A: two clear sessions for user 1 (gap 30 min, watermark 1 h)
    file_a = mk([
        (1, "2024-06-01 10:00", 1.0),
        (1, "2024-06-01 10:05", 2.0),
        (1, "2024-06-01 10:10", 3.0),
        (1, "2024-06-01 14:00", 10.0),
        (1, "2024-06-01 14:05", 20.0),
        (1, "2024-06-01 14:10", 30.0),
    ])
    # file B: a late echo at 10:30 (watermark is 13:10 after file A ->
    # dropped) plus live rows merging into the open 14:xx session
    file_b = mk([
        (1, "2024-06-01 10:30", 99.0),
        (1, "2024-06-01 14:20", 40.0),
        (1, "2024-06-01 14:25", 50.0),
    ])
    # files C/D: another user advances the watermark past the open
    # session's gap deadline (14:55) so its event-time timeout fires
    file_c = mk([(2, "2024-06-01 16:30", 0.0)])
    file_d = mk([(2, "2024-06-01 17:30", 0.0)])

    src = tmp_path / "late_sessions"
    src.mkdir()
    schema = spark.createDataFrame(file_a).schema
    for i, pdf in enumerate([file_a, file_b, file_c, file_d]):
        spark.createDataFrame(pdf).coalesce(1).write.parquet(str(src / f"b{i}"))

    got: list = []

    def sink(batch, _epoch):
        got.extend(batch.collect())

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q = (
        stateful_sessions(stream, gap_minutes=30, watermark="1 hour")
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    u1 = sorted(
        (
            (r["session_start"], r["session_end"], r["n_events"], r["total_value"])
            for r in got
            if r["user_id"] == 1
        )
    )
    assert u1 == [
        # morning session: the 10:30 echo was DROPPED (n=3, total=6, end
        # pinned at 10:10+gap — a counted echo would have shown n=4 or a
        # phantom 10:30 session)
        (
            pd.Timestamp("2024-06-01 10:00"),
            pd.Timestamp("2024-06-01 10:40"),
            3,
            6.0,
        ),
        # afternoon session: late-but-live rows merged across batches
        (
            pd.Timestamp("2024-06-01 14:00"),
            pd.Timestamp("2024-06-01 14:55"),
            5,
            150.0,
        ),
    ]


def test_stream_stateful_custom_key_and_column_names(spark, tmp_path):
    """The stateful pair's output/state schemas are DERIVED from the input
    frame, not hardcoded: a STRING key under a non-default column name
    (regression: previously any non-long key failed the Arrow cast and
    output columns were mislabeled 'user_id'/'ts')."""
    from tsdisagg_spark.operators import timeseries as ts_ops
    from tsdisagg_spark.streaming import stream_cusum, stream_ewma

    rng = np.random.default_rng(37)
    rows = []
    for dev in ("alpha", "beta"):
        for i in range(20):
            rows.append(
                (
                    dev,
                    pd.Timestamp("2024-05-01") + pd.Timedelta(minutes=i),
                    float(rng.normal(3.0, 1.0)),
                )
            )
    pdf = pd.DataFrame(rows, columns=["device", "seen_at", "reading"])
    src = tmp_path / "custom_key_stream"
    src.mkdir()
    spark.createDataFrame(pdf).coalesce(1).write.parquet(str(src / "b0"))

    schema = spark.createDataFrame(pdf).schema
    for build, val_cols, batch in (
        (
            lambda s: stream_ewma(
                s, alpha=0.25, ts_col="seen_at", key_col="device",
                value_col="reading",
            ),
            ["ewma"],
            lambda df: ts_ops.ewma_series(
                df, ["device"], "seen_at", "reading", alpha=0.25,
                round_to=None,
            ),
        ),
        (
            lambda s: stream_cusum(
                s, target=3.0, ts_col="seen_at", key_col="device",
                value_col="reading",
            ),
            ["cusum_pos", "cusum_neg"],
            lambda df: ts_ops.cusum_series(
                df, ["device"], "seen_at", "reading", k=0.0, target=3.0
            ),
        ),
    ):
        got: list = []

        def sink(b, _epoch, got=got):
            got.extend(map(tuple, b.collect()))

        stream = spark.readStream.schema(schema).parquet(f"{src}/*")
        out_df = build(stream)
        # output schema carries the INPUT's names and types
        assert out_df.schema.fieldNames() == ["device", "seen_at"] + val_cols
        assert out_df.schema["device"].dataType.simpleString() == "string"
        q = (
            out_df.writeStream.foreachBatch(sink)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got_df = (
            pd.DataFrame(got, columns=["device", "seen_at"] + val_cols)
            .sort_values(["device", "seen_at"])
            .reset_index(drop=True)
        )
        want = (
            batch(spark.createDataFrame(pdf))
            .toPandas()
            .sort_values(["device", "seen_at"])
            .reset_index(drop=True)
        )
        assert len(got_df) == len(want)
        for c in val_cols:
            assert (got_df[c].to_numpy() == want[c].to_numpy()).all(), c


def test_census_digest_lanes_independent(docs):
    """ADVICE r08 (high): Spark's multi-arg xxhash64 chains left-to-right
    with the running value as seed, so a second lane written
    ``xxhash64(gram, lit(1))`` is XXH64(1L, seed=d1) — a deterministic
    function of the first lane, collapsing the (d1, d2) pair to 64 bits of
    collision resistance.  Pin the fixed form: the literal comes FIRST
    (``xxhash64(1, gram, 42)`` in the analyzed plan), making d2 a
    different-seed hash of the gram, independent of d1."""
    out = dedup.window_dup_stats(docs, window=4)
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "xxhash64(1, " in plan, plan
    assert not re.search(r"xxhash64\(gram#\d+, 1,", plan), plan
    # and the operator still works end-to-end on the planted exact copy
    pdf = out.toPandas().set_index("doc_id")
    assert pdf.loc[100, "dup_frac"] == 1.0
    assert pdf.loc[102, "dup_frac"] == 1.0
    assert pdf.loc[103, "dup_frac"] == 0.0


def test_pca_parseval_empty_input_raises(spark):
    """ADVICE r08 (low): an empty frame used to surface as an opaque
    TypeError from ``len(None)``; now a clear ValueError names the
    problem before any Spark job beyond the one-row probe."""
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="empty input"):
        similarity.pca_parseval(empty)


def test_pca_parseval_exact_matches_numpy_and_certifies(spark):
    """VERDICT r09 #5: the exact-integer twin's sq_norm_n2 must equal the
    pure-integer numpy value SUM((n*q - s)^2) computed from the identical
    quantization, and parseval_ok must be 1 everywhere (the fitted basis
    is orthonormal and complete, so the rotated float norm reproduces the
    exact integer within the 1e-9 gate).  Includes a vector equal to
    another (zero centered distance still > 0 unless it equals the MEAN)
    and small magnitudes near the quantization boundary."""
    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((40, 6)).astype(np.float32)
    vecs[7] = vecs[3]  # duplicate vector
    df = spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": np.arange(40, dtype=np.int64), "embedding": list(map(list, vecs))}
        )
    )
    out = (
        similarity.pca_parseval_exact(df, scale=1000)
        .toPandas()
        .set_index("vec_id")
        .sort_index()
    )
    q = np.floor(vecs.astype(np.float64) * 1000.0 + 0.5).astype(object)
    n = len(vecs)
    s = q.sum(axis=0)  # exact python ints via object dtype
    want = [(sum(int(n * q[r, i] - s[i]) ** 2 for i in range(q.shape[1]))) for r in range(n)]
    got = out["sq_norm_n2"].to_numpy()
    assert np.array_equal(got, np.array([float(w) for w in want]))
    assert (out["parseval_ok"] == 1).all()
    with pytest.raises(ValueError, match="empty input"):
        similarity.pca_parseval_exact(
            spark.createDataFrame([], "vec_id long, embedding array<float>")
        )


def test_pmi_bigrams_exact_counts_and_formula(spark):
    """Brute-force PMI on a tiny corpus: counts are exact integers and
    pmi equals ln(c_ab * N_tok^2 / (N_bi * c_a * c_b)) at 6 decimals;
    the support cut is integer-exact (a pair at min_count-1 is absent)."""
    import math

    from tsdisagg_spark.operators import text as text_ops

    docs = [
        (1, "a b a b a b c"),
        (2, "a b x y a b"),
        (3, "c c c"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = (
        text_ops.pmi_bigrams(df, min_count=2)
        .toPandas()
        .set_index(["w1", "w2"])
        .sort_index()
    )
    toks = [t for _, s in docs for t in s.split()]
    bigrams = [
        (w[i], w[i + 1])
        for _, s in docs
        for w in [s.split()]
        for i in range(len(w) - 1)
    ]
    from collections import Counter

    uni, bg = Counter(toks), Counter(bigrams)
    n_tok, n_bi = len(toks), len(bigrams)
    want = {p: c for p, c in bg.items() if c >= 2}
    assert set(out.index) == set(want)
    for (w1, w2), c in want.items():
        row = out.loc[(w1, w2)]
        assert row["pair_count"] == c
        assert row["left_count"] == uni[w1]
        assert row["right_count"] == uni[w2]
        ref = math.log((c * n_tok * n_tok) / (n_bi * uni[w1] * uni[w2]))
        assert abs(row["pmi"] - round(ref, 6)) < 1e-9
    with pytest.raises(ValueError, match="min_count"):
        text_ops.pmi_bigrams(df, min_count=0)


def test_hybrid_rrf_fuses_leg_ranks(spark):
    """The fused score must be exactly 1/(60+lex) + 1/(60+sem) of the
    legs' own ranks (0-rank legs contribute nothing), fused_rank must be
    a 1..10 permutation ordered by score then doc_id, and every row must
    appear in at least one leg."""
    from tsdisagg_spark.queries import QUERIES

    out = (
        QUERIES["hybrid_rrf_search"](spark, "/root/testdata/sf0.001")
        .toPandas()
        .sort_values("fused_rank")
    )
    assert list(out["fused_rank"]) == list(range(1, len(out) + 1))
    assert len(out) == 10
    for _, r in out.iterrows():
        want = (1.0 / (60 + r["lex_rank"]) if r["lex_rank"] else 0.0) + (
            1.0 / (60 + r["sem_rank"]) if r["sem_rank"] else 0.0
        )
        assert abs(r["rrf_score"] - round(want, 6)) < 1e-9
        assert r["n_legs"] == int(r["lex_rank"] > 0) + int(r["sem_rank"] > 0)
        assert r["n_legs"] >= 1
    # descending score, doc_id tiebreak
    scores = list(zip(-out["rrf_score"], out["doc_id"]))
    assert scores == sorted(scores)


def test_winnowing_matches_python_reference(spark):
    """Bit-identity guard for the winnowing selection (text.py
    ``winnowing_fingerprints``): recompute the whole pipeline — 4-gram
    md5 60-bit hashes, window-of-5 minimum, RIGHTMOST tie rule — in pure
    hashlib/int arithmetic and assert every output column, including the
    all-ties repeated-token doc that only the rightmost rule gets right
    (a leftmost selection yields the same n_fp here ONLY by accident of
    ties; position sets differ and density tests below would drift)."""
    import hashlib

    K, W = 4, 5
    docs = [
        (1, "the quick brown fox jumps over the lazy dog and runs far away"),
        (2, "a b c d"),  # exactly one gram -> one window
        (3, "one two three"),  # < k words -> no row
        (4, "x " * 40),  # every hash equal -> rightmost-tie stress
        (5, ""),
        (6, "alpha beta gamma delta alpha beta gamma delta alpha beta"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    def pyref(s):
        w = re.split(r"\s+", s.strip().lower())
        if len(w) < K:
            return None
        hs = [
            int(
                hashlib.md5(" ".join(w[i : i + K]).encode()).hexdigest()[:15],
                16,
            )
            for i in range(len(w) - K + 1)
        ]
        ng = len(hs)
        sel = set()
        for i in range(max(ng - W + 1, 1)):
            win = hs[i : min(i + W, ng)]
            m = min(win)
            sel.add(max(j for j in range(i, min(i + W, ng)) if hs[j] == m))
        fph = [hs[j] for j in sel]
        return (
            ng,
            max(ng - W + 1, 1),
            len(sel),
            len(set(fph)),
            min(fph),
            max(fph),
        )

    got = {
        r["doc_id"]: (
            r["n_grams"],
            r["n_windows"],
            r["n_fp"],
            r["n_distinct_fp"],
            r["min_fp"],
            r["max_fp"],
        )
        for r in text.winnowing_fingerprints(df, k=K, window=W).collect()
    }
    for doc_id, s in docs:
        assert got.get(doc_id) == pyref(s), f"doc {doc_id}"


def test_winnowing_density_guarantee(spark):
    """The paper's contract on real corpus text: every window selects a
    fingerprint, so n_fp is in [ceil(n_windows / window), n_windows] and
    the expected density ~2/(w+1) puts n_fp well under n_grams."""
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .limit(200)
    )
    rows = text.winnowing_fingerprints(docs, k=4, window=5).collect()
    assert rows
    for r in rows:
        assert r["n_windows"] == max(r["n_grams"] - 4, 1)
        assert r["n_fp"] <= r["n_windows"]
        # every window of 5 consecutive positions holds >= 1 selection,
        # so selections are at most `window` apart: count >= ceil(nw / w)
        assert r["n_fp"] >= (r["n_windows"] + 4) // 5
        assert 0 < r["n_distinct_fp"] <= r["n_fp"]
        assert 0 <= r["min_fp"] <= r["max_fp"] < 1 << 60


def test_gopher_quality_rules(spark):
    """Each Gopher rule trips on a purpose-built toy doc and the flags
    are exact integer predicates (no float ratio anywhere)."""
    long_ok = ("the be to of and that have with " + "lexeme " * 50).strip()
    docs = [
        (1, long_ok),  # passes every rule
        (2, "the be to of"),  # too short
        (3, ("aa " * 60 + "the be").strip()),  # mean word length < 3
        (4, ("the be " + "12345 " * 60).strip()),  # alpha fraction < 0.8
        (5, ("lexeme " * 60).strip()),  # < 2 distinct stopwords
        (6, ("the be " + "#tag " * 60).strip()),  # symbol ratio > 0.1
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r["doc_id"]: r.asDict() for r in text.gopher_quality(df).collect()}
    assert out[1]["passes"]
    assert not out[2]["words_ok"] and not out[2]["passes"]
    assert not out[3]["mwl_ok"] and out[3]["words_ok"]
    assert not out[4]["alpha_ok"] and out[4]["words_ok"]
    assert not out[5]["stop_ok"] and out[5]["words_ok"]
    assert not out[6]["sym_ok"] and out[6]["words_ok"]
    # keep= passthrough used by the registry rollup
    kept = text.gopher_quality(
        df.withColumn("lang", F.lit("en")), keep=("lang",)
    ).columns
    assert kept[:2] == ["doc_id", "lang"]


def test_winnowing_shared_pairs_planted_overlap(spark):
    """A planted 12-word verbatim run between two otherwise-disjoint docs
    must surface (winnowing guarantee: any shared k+w-1 = 8-word run
    leaves a common fingerprint), disjoint docs must not pair, and a
    boilerplate hash present in every doc must be killed by the df cap."""
    run = "zero one two three four five six seven eight nine ten eleven"
    filler_a = " ".join(f"fa{i}" for i in range(30))
    filler_b = " ".join(f"fb{i}" for i in range(30))
    filler_c = " ".join(f"fc{i}" for i in range(30))
    docs = [
        (1, f"{filler_a} {run}"),
        (2, f"{run} {filler_b}"),
        (3, filler_c),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    pairs = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in text.winnowing_shared_pairs(
            df, k=4, window=5, min_shared=1, df_cap=50
        ).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 1
    assert all(p == (1, 2) for p in pairs)
    # df cap: the run appears in EVERY doc -> its fingerprints exceed a
    # cap of 2 docs... build 4 docs all containing the run; cap=3 kills
    # every run-derived hash, so no pair reaches min_shared
    many = spark.createDataFrame(
        [(i, f"{run} " + " ".join(f"x{i}y{j}" for j in range(20)))
         for i in range(4)],
        ["doc_id", "text"],
    )
    capped = text.winnowing_shared_pairs(
        many, k=4, window=5, min_shared=1, df_cap=3
    ).collect()
    assert capped == []
    with pytest.raises(ValueError, match="min_shared"):
        text.winnowing_shared_pairs(df, min_shared=0)


def test_dsir_weights_match_python_reference(spark):
    """Bit-identity guard for DSIR importance weights (sampling.py
    ``dsir_importance_weights``): recompute hashed-bigram cells, add-one
    log-ratios quantized to micronats, and the integer per-doc weight in
    pure hashlib/math and assert every output column.  Exercises empty
    docs (dropped), single-word docs (no bigram -> dropped), repeated
    bigrams (count > 1 in one cell), and cells present only in target or
    only in raw."""
    import hashlib
    import math

    B, SCALE = 1024, 1_000_000
    rows = [
        (10, "the quick brown fox jumps over the lazy dog"),   # target
        (20, "shared words appear here and there"),            # target
        (1, "the quick brown fox sat down"),                   # raw, targetlike
        (2, "totally unrelated noise tokens xylophone quartz"),  # raw
        (3, "shared words appear here shared words appear here"),  # raw, dup grams
        (4, "single"),                                         # raw, no bigram
        (5, ""),                                               # raw, empty
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    def grams(s):
        w = re.split(r"\s+", s.strip().lower())
        return [
            f"{w[i]} {w[i + 1]}" for i in range(len(w) - 1)
        ] if len(w) >= 2 and w != [""] else []

    def cell(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % B

    tcnt, rcnt, per_doc = {}, {}, {}
    for doc_id, s in rows:
        is_t = doc_id % 10 == 0
        for g in grams(s):
            h = cell(g)
            (tcnt if is_t else rcnt)[h] = (tcnt if is_t else rcnt).get(h, 0) + 1
            if not is_t:
                per_doc.setdefault(doc_id, {})
                per_doc[doc_id][h] = per_doc[doc_id].get(h, 0) + 1
    cells = set(tcnt) | set(rcnt)
    T, R = sum(tcnt.values()), sum(rcnt.values())
    lam = {
        h: round(
            SCALE
            * (
                math.log(tcnt.get(h, 0) + 1)
                - math.log(T + B)
                - math.log(rcnt.get(h, 0) + 1)
                + math.log(R + B)
            )
        )
        for h in cells
    }
    want = {
        d: (
            sum(cs.values()),
            sum(c * lam[h] for h, c in cs.items()),
        )
        for d, cs in per_doc.items()
    }

    from tsdisagg_spark.operators import sampling

    got = {
        r["doc_id"]: (r["n_grams"], r["weight_micronats"])
        for r in sampling.dsir_importance_weights(
            df, target=F.col("doc_id") % 10 == 0
        ).collect()
    }
    assert got == want
    # semantic: the doc sharing target bigrams outranks the disjoint one
    assert got[1][1] > got[2][1]


def test_small_quantity_revenue_threshold_exact(spark, tmp_path):
    """The Q17-shape threshold predicate is exact integer arithmetic:
    a lineitem at EXACTLY 20% of its part's average quantity is excluded
    (strict <), one just under is included — the float formulation
    ``q < 0.2 * avg`` cannot make that guarantee at scale.  Runs the
    registered query end-to-end on toy parquet tables."""
    from tsdisagg_spark.queries import QUERIES

    li = spark.createDataFrame(
        [
            # part 1: quantities 2,10,10,18 -> avg 10; 20% = 2.0: the 2.0
            # line is AT the threshold -> excluded
            (1, 1, 1, 1, 2.0, 100.0, 0.0, 0.0, "N", "O", "2024-01-01"),
            (2, 1, 1, 1, 10.0, 100.0, 0.0, 0.0, "N", "O", "2024-01-01"),
            (3, 1, 1, 1, 10.0, 100.0, 0.0, 0.0, "N", "O", "2024-01-01"),
            (4, 1, 1, 1, 18.0, 100.0, 0.0, 0.0, "N", "O", "2024-01-01"),
            # part 2: quantities 1.99,10,10,18.01 -> avg 10; the 1.99 line
            # is just under 20% -> included, revenue 55.55
            (5, 2, 1, 1, 1.99, 55.55, 0.0, 0.0, "N", "O", "2024-01-01"),
            (6, 2, 1, 1, 10.0, 100.0, 0.0, 0.0, "N", "O", "2024-01-01"),
            (7, 2, 1, 1, 10.0, 100.0, 0.0, 0.0, "N", "O", "2024-01-01"),
            (8, 2, 1, 1, 18.01, 100.0, 0.0, 0.0, "N", "O", "2024-01-01"),
        ],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate string",
    ).withColumn("l_shipdate", F.col("l_shipdate").cast("timestamp"))
    part = spark.createDataFrame(
        [(1, "p1", "BrandA", "t", 1, 1.0), (2, "p2", "BrandB", "t", 1, 1.0)],
        "p_partkey long, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double",
    )
    li.write.parquet(str(tmp_path / "lineitem.parquet"))
    part.write.parquet(str(tmp_path / "part.parquet"))
    rows = {
        r["p_brand"]: r
        for r in QUERIES["small_quantity_revenue"](
            spark, str(tmp_path)
        ).collect()
    }
    assert "BrandA" not in rows  # the exactly-20% line is excluded
    assert rows["BrandB"]["n_small_lines"] == 1
    assert rows["BrandB"]["revenue_cents"] == 5555
    assert rows["BrandB"]["avg_yearly"] == round(5555 / 700.0, 2)


def test_zipf_slope_matches_python_reference(spark, tmp_path):
    """Bit-identity guard for the quantized log-log Theil-Sen: recompute
    ranks (count desc, token asc), nano-log grid points, pairwise slopes,
    and the median in pure math and assert the registered query's output
    per source — including a tie-heavy source where the rank tie-break
    decides the grid."""
    import math

    rows = [
        (1, "a a a a b b b c c d", "en", "s1", 10),
        (2, "a a b c d e f g", "en", "s1", 8),
        (3, "x x x y y z z z z z", "en", "s2", 10),  # count ties: x vs z
        (4, "p q r s", "en", "s2", 4),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))

    def pyref(texts):
        cnt = {}
        for s in texts:
            for tok in re.split(r"\s+", s.strip().lower()):
                cnt[tok] = cnt.get(tok, 0) + 1
        ranked = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:64]
        pts = [
            (round(math.log(i + 1) * 1e9), round(math.log(n) * 1e9))
            for i, (_, n) in enumerate(ranked)
        ]
        slopes = sorted(
            (y2 - y1) / (x2 - x1)
            for i, (x1, y1) in enumerate(pts)
            for (x2, y2) in pts[i + 1 :]
        )
        m = len(slopes)
        med = (
            slopes[m // 2]
            if m % 2 == 1
            else (slopes[m // 2 - 1] + slopes[m // 2]) / 2.0
        )
        return m, med

    from tsdisagg_spark.queries import QUERIES

    got = {
        r["source"]: (r["n_slopes"], r["zipf_slope"])
        for r in QUERIES["zipf_slope_by_source"](spark, str(tmp_path)).collect()
    }
    texts = {}
    for _, s, _, src, _ in rows:
        texts.setdefault(src, []).append(s)
    for src, ts in texts.items():
        assert got[src] == pyref(ts), src


def test_incremental_dsir_probe_matches_python_reference(spark):
    """The DSIR index/probe split (sampling.py dsir_cell_table +
    dsir_score) scores an ingest batch bit-identically to a pure
    hashlib/math recompute: the cell table is built from the HELD corpus
    only (target = %5==1 slice), the batch contributes nothing to the
    ratios, and batch cells the held corpus never produced drop."""
    import hashlib
    import math

    B, SCALE = 1024, 1_000_000
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),  # held target
        (6, "shared words appear here and there"),           # held target
        (2, "totally unrelated noise tokens appear here"),   # held raw
        (3, "the lazy dog naps under the warm sun"),         # held raw
        (5, "the quick brown fox naps too"),                 # batch
        (10, "words never seen qqq zzz before anywhere"),    # batch
        (15, "single"),                                      # batch, no gram
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    def grams(s):
        w = re.split(r"\s+", s.strip().lower())
        return (
            [f"{w[i]} {w[i + 1]}" for i in range(len(w) - 1)]
            if len(w) >= 2 and w != [""]
            else []
        )

    def cell(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % B

    tcnt, rcnt = {}, {}
    for doc_id, s in rows:
        if doc_id % 5 == 0:
            continue
        d = tcnt if doc_id % 5 == 1 else rcnt
        for g in grams(s):
            d[cell(g)] = d.get(cell(g), 0) + 1
    T, R = sum(tcnt.values()), sum(rcnt.values())
    lam = {
        h: round(
            SCALE
            * (
                math.log(tcnt.get(h, 0) + 1)
                - math.log(T + B)
                - math.log(rcnt.get(h, 0) + 1)
                + math.log(R + B)
            )
        )
        for h in set(tcnt) | set(rcnt)
    }
    want = {}
    for doc_id, s in rows:
        if doc_id % 5 != 0:
            continue
        cs = {}
        for g in grams(s):
            h = cell(g)
            if h in lam:  # unseen cells drop (inner join vs the index)
                cs[h] = cs.get(h, 0) + 1
        if cs:
            want[doc_id] = (
                sum(cs.values()),
                sum(c * lam[h] for h, c in cs.items()),
            )

    from tsdisagg_spark.operators import sampling

    held = df.filter(F.col("doc_id") % 5 != 0)
    batch = df.filter(F.col("doc_id") % 5 == 0)
    table = sampling.dsir_cell_table(held, target=F.col("doc_id") % 5 == 1)
    got = {
        r["doc_id"]: (r["n_grams"], r["weight_micronats"])
        for r in sampling.dsir_score(batch, table).collect()
    }
    assert got == want


def test_dsir_index_format_gate(spark, tmp_path):
    """The persistable DSIR index is self-describing (sampling.py
    DSIR_INDEX_FORMAT): the version/buckets/scale schema tag on __lam
    survives a parquet round-trip, dsir_score REFUSES a table whose
    bucket modulus disagrees with the probe's hashing (mixed moduli
    would silently join wrong lambdas), and an untagged table — one
    persisted before the gate, or hand-built — fails loudly with a
    rebuild instruction instead of scoring."""
    import pytest

    from tsdisagg_spark.operators import sampling

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "totally unrelated noise tokens appear here"),
        (3, "the lazy dog naps under the warm sun"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    batch = spark.createDataFrame(
        [(5, "the quick brown fox naps too")], ["doc_id", "text"]
    )
    table = sampling.dsir_cell_table(df, target=F.col("doc_id") == 1, buckets=64)
    meta = dict(table.schema["__lam"].metadata)
    assert meta["dsir_index_format"] == sampling.DSIR_INDEX_FORMAT
    assert meta["dsir_buckets"] == 64

    # the tag survives persistence: write, read back, score — identical
    # to scoring against the in-memory table
    path = str(tmp_path / "dsir_index.parquet")
    table.write.parquet(path)
    reread = spark.read.parquet(path)
    assert dict(reread.schema["__lam"].metadata)["dsir_buckets"] == 64
    want = sorted(
        sampling.dsir_score(batch, table, buckets=64).collect()
    )
    got = sorted(sampling.dsir_score(batch, reread, buckets=64).collect())
    assert got == want and got, got

    # bucket-modulus mismatch fails loudly at plan time (no job runs)
    with pytest.raises(ValueError, match="bucket-modulus mismatch"):
        sampling.dsir_score(batch, reread, buckets=128)
    # untagged table (pre-gate persist / hand-built) fails loudly too
    untagged = reread.select(
        "__h", F.col("__lam").alias("__lam", metadata={})
    )
    assert untagged.schema["__lam"].metadata in (None, {})
    with pytest.raises(ValueError, match="index format"):
        sampling.dsir_score(batch, untagged, buckets=64)


def test_winnowing_index_format_gate(spark, tmp_path):
    """The persistable winnowing posting index is self-describing
    (text.py WINNOW_INDEX_FORMAT): the (k, window, df_cap) schema tag on
    ``fp`` survives a parquet round-trip and the probe derives its
    selection parameters FROM the tag (scoring under a different rule is
    impossible); an untagged index — persisted before the gate, or
    hand-built — fails loudly with a rebuild instruction."""
    from tsdisagg_spark.operators import text as text_ops

    blk = " ".join(f"w{i}" for i in range(12))
    held = spark.createDataFrame(
        [(1, blk + " alpha beta gamma delta"), (2, "x y z q r s t u v")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(5, blk + " totally new tail here")], "doc_id long, text string"
    )
    idx = text_ops.winnowing_posting_index(held, k=4, window=5, df_cap=50)
    meta = dict(idx.schema["fp"].metadata)
    assert meta["winnow_index_format"] == text_ops.WINNOW_INDEX_FORMAT
    assert (meta["winnow_k"], meta["winnow_window"]) == (4, 5)

    path = str(tmp_path / "winnow_index.parquet")
    idx.write.parquet(path)
    reread = spark.read.parquet(path)
    want = sorted(
        tuple(r)
        for r in text_ops.winnowing_probe_pairs(batch, idx, min_shared=1).collect()
    )
    got = sorted(
        tuple(r)
        for r in text_ops.winnowing_probe_pairs(
            batch, reread, min_shared=1
        ).collect()
    )
    # doc 5 shares the 12-word block with doc 1 -> >= 1 common fingerprint
    # (winnowing guarantee: any shared k+window-1 = 8-word run)
    assert got == want and got, got
    assert all(r[1] == 1 for r in got)

    untagged = reread.select(
        "doc_id", F.col("fp").alias("fp", metadata={})
    )
    with pytest.raises(ValueError, match="format"):
        text_ops.winnowing_probe_pairs(batch, untagged)


def test_event_mix_drift_stream_equals_batch(spark, tmp_path):
    """The continuously-maintained drift monitor, pinned: the
    (day, event_type) cell count is key-grain state a stream keeps fresh
    with merge_partial_aggregates; reading it with drift_jsd_over_cells
    on demand must equal the one-shot daily_event_mix_drift query over
    the same events bit-for-bit (counts merge exactly; JSD is a
    deterministic function of the counts)."""
    from tsdisagg_spark.operators.profiling import drift_jsd_over_cells
    from tsdisagg_spark.streaming import merge_partial_aggregates

    types = ["click", "view", "purchase"]
    rows = [
        (k, f"2001-01-{1 + k % 5:02d} 08:{k % 60:02d}:00",
         k % 11, types[(k * 7) % 3], float(k), "{}")
        for k in range(1, 61)
    ]
    schema = (
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string"
    )
    events = spark.createDataFrame(rows, schema).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    events.write.parquet(str(tmp_path / "events.parquet"))
    from tsdisagg_spark.queries import QUERIES

    want = sorted(
        tuple(r)
        for r in QUERIES["daily_event_mix_drift"](spark, str(tmp_path)).collect()
    )
    assert len(want) == 5 and all(r[4] is not None for r in want)

    src = str(tmp_path / "stream_src")
    for lo in range(1, 61, 17):
        events.filter(
            (F.col("event_id") >= lo) & (F.col("event_id") < lo + 17)
        ).coalesce(1).write.mode("append").parquet(src)

    agg = lambda df: df.groupBy(
        F.date_trunc("day", "ts").alias("day"),
        F.col("event_type").alias("__h"),
    ).agg(F.count(F.lit(1)).alias("__cp"))
    state = {"cells": None}

    def sink(bdf, _bid):
        if bdf.isEmpty():
            return
        part = agg(bdf)
        merged = (
            part
            if state["cells"] is None
            else merge_partial_aggregates(
                state["cells"], part, keys=("day", "__h"), sum_cols=("__cp",)
            )
        )
        state["cells"] = merged.localCheckpoint()

    q = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = sorted(
        tuple(r)
        for r in drift_jsd_over_cells(state["cells"], "day")
        .select(
            "day",
            F.col("n_tokens").alias("n_events"),
            "n_rest",
            "n_cells",
            "jsd",
        )
        .collect()
    )
    assert got == want


def test_winnowing_probe_stream_equals_batch(spark, tmp_path):
    """The continuous-ingest claim of winnowing_probe_pairs, pinned:
    micro-batch the ingest set through Structured Streaming foreachBatch,
    each batch probed against the SAME persisted (parquet round-tripped,
    schema-tagged) posting index, and assert the concatenated streamed
    pairs are bit-identical to the one-shot batch probe — per-document
    probe decisions depend only on the doc and the static index, so the
    micro-batch cut must be invisible."""
    from tsdisagg_spark.operators import text as text_ops

    blk = lambda p: " ".join(f"{p}{i}" for i in range(10))
    held = spark.createDataFrame(
        [(1, f"{blk('x')} {blk('y')}"), (2, f"{blk('z')} unrelated tail")],
        "doc_id long, text string",
    )
    ingest_rows = [
        (5, f"{blk('x')} fresh words here"),   # pairs with doc 1
        (10, f"{blk('q')} {blk('r')}"),        # matches nothing
        (15, f"{blk('z')} and {blk('y')}"),    # pairs with 1 AND 2
    ]
    ingest = spark.createDataFrame(ingest_rows, "doc_id long, text string")
    path = str(tmp_path / "winnow_index.parquet")
    text_ops.winnowing_posting_index(held, k=4, window=5).write.parquet(path)
    index = spark.read.parquet(path)
    want = sorted(
        tuple(r)
        for r in text_ops.winnowing_probe_pairs(
            ingest, index, min_shared=1
        ).collect()
    )
    assert {(a, b) for a, b, _ in want} >= {(5, 1), (15, 1), (15, 2)}

    src = str(tmp_path / "ingest_src")
    for row in ingest_rows:
        spark.createDataFrame([row], "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(src)

    got: list[tuple] = []

    def sink(bdf, _bid):
        if bdf.isEmpty():
            return
        got.extend(
            tuple(r)
            for r in text_ops.winnowing_probe_pairs(
                bdf, index, min_shared=1
            ).collect()
        )

    q = (
        spark.readStream.schema(ingest.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert sorted(got) == want


def test_temperature_mixture_upsamples_low_resource(spark, tmp_path):
    """Temperature sampling's defining property: alpha < 1 moves mass
    from high-resource to low-resource languages while staying a
    probability vector.  Also pins the exact arithmetic against a pure
    math recompute."""
    rows = (
        [(i, "w " * 99, "en", "s", 100) for i in range(8)]
        + [(100, "w " * 99, "de", "s", 100)]
    )
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))
    from tsdisagg_spark.queries import QUERIES

    got = {
        r["lang"]: r
        for r in QUERIES["temperature_mixture_weights"](
            spark, str(tmp_path)
        ).collect()
    }
    # "w " * 99 -> "w ... w " with trailing space; trim+split = 99 tokens
    p_en, p_de = 8 * 99 / (9 * 99), 99 / (9 * 99)
    z = p_en**0.7 + p_de**0.7
    assert got["en"]["p_raw"] == round(p_en, 6)
    assert got["de"]["p_temp"] == round(p_de**0.7 / z, 6)
    assert got["de"]["p_temp"] > got["de"]["p_raw"]  # up-sampled
    assert got["en"]["p_temp"] < got["en"]["p_raw"]  # down-sampled
    assert abs(got["en"]["p_temp"] + got["de"]["p_temp"] - 1.0) < 2e-6


def test_top_supplier_revenue_exact_tie_returns_both(spark, tmp_path):
    """Q15's max-equality filter compares exact integers: two suppliers
    whose quarterly revenues tie to the exact cent-x-bp unit are BOTH
    returned — a float revenue would break the tie arbitrarily."""
    li = spark.createDataFrame(
        [
            # supplier 1: 100.00 at 10% off = 90.00
            (1, 1, 1, 1, 1.0, 100.0, 0.10, 0.0, "N", "O", "1996-02-01"),
            # supplier 2: 90.00 at 0% off = 90.00 (exact tie)
            (2, 1, 2, 1, 1.0, 90.0, 0.0, 0.0, "N", "O", "1996-02-01"),
            # supplier 3: lower
            (3, 1, 3, 1, 1.0, 50.0, 0.0, 0.0, "N", "O", "1996-02-01"),
            # supplier 1 again but OUTSIDE the quarter
            (4, 1, 1, 1, 1.0, 999.0, 0.0, 0.0, "N", "O", "1996-06-01"),
        ],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate string",
    ).withColumn("l_shipdate", F.col("l_shipdate").cast("timestamp"))
    sup = spark.createDataFrame(
        [(1, "s1", 0, 0.0), (2, "s2", 0, 0.0), (3, "s3", 0, 0.0)],
        "s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
    )
    li.write.parquet(str(tmp_path / "lineitem.parquet"))
    sup.write.parquet(str(tmp_path / "supplier.parquet"))
    from tsdisagg_spark.queries import QUERIES

    rows = sorted(
        (r["s_suppkey"], r["total_revenue"])
        for r in QUERIES["top_supplier_revenue"](spark, str(tmp_path)).collect()
    )
    assert rows == [(1, 90.0), (2, 90.0)]


def test_token_entropy_matches_python_reference(spark):
    """Bit-identity guard for the sorted-array entropy fold (text.py
    token_entropy): recompute counts, nano-nat terms, and the rounded
    entropy in pure math — including the empty doc (split of '' is [''],
    one token), a single-token doc, an all-same doc (entropy 0), and a
    doc whose sorted runs exercise the fold's run-boundary arithmetic."""
    import math

    rows = [
        (1, "a b a c b a"),
        (2, ""),
        (3, "word"),
        (4, "x x x x x"),
        (5, "the quick brown fox jumps over the lazy dog the end"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    def pyref(s):
        w = re.split(r"\s+", s.strip().lower())
        cnt = {}
        for tok in w:
            cnt[tok] = cnt.get(tok, 0) + 1
        n = len(w)
        S = sum(c * round(math.log(c) * 1e9) for c in cnt.values())
        return (n, len(cnt), S, round(math.log(n) - (S / 1e9) / n, 6))

    got = {
        r["doc_id"]: (
            r["n_tokens"],
            r["n_distinct"],
            r["s_clnc_nano"],
            r["entropy"],
        )
        for r in text.token_entropy(df).collect()
    }
    for doc_id, s in rows:
        assert got[doc_id] == pyref(s), f"doc {doc_id}"
    assert got[4][3] == 0.0  # all-same doc: zero entropy


def test_ngram_coverage_curve_semantics(spark, tmp_path):
    """Coverage is monotone in k, k past the vocabulary covers all
    mass, and a count tie STRADDLING the k=100 boundary is cut at
    exactly k tokens (row_number semantics: 40 of the 90 tied count-1
    tokens make the cut — a rank()/dense_rank() tie treatment would
    admit all 90 and report full coverage at k=100)."""
    heads = [f"b{i:02d}" for i in range(60)]  # count 2 each: ranks 1-60
    tails = [f"u{i:02d}" for i in range(90)]  # count 1 each: ranks 61-150
    rows = [
        (1, " ".join(heads * 2), "en", "s", 1),
        (2, " ".join(tails), "en", "s", 1),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.parquet(str(tmp_path / "documents.parquet"))
    from tsdisagg_spark.queries import QUERIES

    got = {
        r["k"]: r
        for r in QUERIES["ngram_coverage_curve"](spark, str(tmp_path)).collect()
    }
    for k in (100, 1000, 10000):
        assert got[k]["n_vocab"] == 150 and got[k]["n_tokens"] == 210
    # the tie straddles rank 100: the 60 count-2 heads plus exactly 40
    # of the 90 tied count-1 tails are covered — partial coverage
    assert got[100]["covered_tokens"] == 60 * 2 + 40
    assert got[100]["coverage"] == 0.761905  # round(160/210, 6)
    # monotone in k, and k >= vocab covers everything
    assert got[100]["covered_tokens"] < got[1000]["covered_tokens"]
    for k in (1000, 10000):
        assert got[k]["covered_tokens"] == 210
        assert got[k]["coverage"] == 1.0


def test_discount_band_edges_exact(spark, tmp_path):
    """Q6's band predicate quantizes the discount to basis points before
    comparing: 5% and 7% lines sit INSIDE the band (a float BETWEEN on
    the raw double can drop the edges to representation error), 4% and
    8% outside, and the shipdate year + quantity filters apply."""
    mk = lambda i, disc, qty, ship: (
        i, 1, 1, 1, qty, 100.0, disc, 0.0, "N", "O", ship
    )
    li = spark.createDataFrame(
        [
            mk(1, 0.05, 1.0, "1996-02-01"),   # in: lower edge
            mk(2, 0.07, 1.0, "1996-02-01"),   # in: upper edge
            mk(3, 0.06, 1.0, "1996-02-01"),   # in
            mk(4, 0.04, 1.0, "1996-02-01"),   # out: below band
            mk(5, 0.08, 1.0, "1996-02-01"),   # out: above band
            mk(6, 0.06, 24.0, "1996-02-01"),  # out: quantity
            mk(7, 0.06, 1.0, "1997-02-01"),   # out: year
        ],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate string",
    ).withColumn("l_shipdate", F.col("l_shipdate").cast("timestamp"))
    li.write.parquet(str(tmp_path / "lineitem.parquet"))
    from tsdisagg_spark.queries import QUERIES

    row = QUERIES["discount_band_revenue"](spark, str(tmp_path)).collect()[0]
    assert row["n_lines"] == 3
    # 100.00 at 5% + 7% + 6% = 10000c * (500 + 700 + 600) bp
    assert row["revenue_u"] == 10000 * (500 + 700 + 600)
    assert row["revenue"] == 18.0


def test_returned_item_customers_tie_stable_cut(spark, tmp_path):
    """Q10's top-20 cut orders by (exact integer revenue DESC, custkey
    ASC): two customers with bit-identical lost revenue admit the lower
    custkey first — on a 21-way tie the cut is still deterministic."""
    lines = []
    # 21 customers, each with one returned 100.00 line (exact tie), and
    # customer 100 with a larger one
    for ck in range(1, 22):
        lines.append(
            (ck, 1, 1, 1, 1.0, 100.0, 0.0, 0.0, "R", "O", "1996-02-01")
        )
    lines.append(
        (100, 1, 1, 1, 1.0, 500.0, 0.0, 0.0, "R", "O", "1996-02-01")
    )
    li = spark.createDataFrame(
        lines,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate string",
    ).withColumn("l_shipdate", F.col("l_shipdate").cast("timestamp"))
    orders = spark.createDataFrame(
        [(k, k, "O", 1.0, "1996-02-01", "1-URGENT")
         for k in list(range(1, 22)) + [100]],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp"))
    cust = spark.createDataFrame(
        [(k, f"c{k}", 0, 0.0, "B") for k in list(range(1, 22)) + [100]],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string",
    )
    nation = spark.createDataFrame(
        [(0, "N0", 0)], "n_nationkey int, n_name string, n_regionkey int"
    )
    for name, df in [
        ("lineitem", li), ("orders", orders),
        ("customer", cust), ("nation", nation),
    ]:
        df.write.parquet(str(tmp_path / f"{name}.parquet"))
    from tsdisagg_spark.queries import QUERIES

    rows = QUERIES["returned_item_customers"](spark, str(tmp_path)).collect()
    assert len(rows) == 20
    assert rows[0]["c_custkey"] == 100  # the big spender leads
    # the 21-way tie admits custkeys 1..19 (lowest first), drops 20 and 21
    assert [r["c_custkey"] for r in rows[1:]] == list(range(1, 20))


def test_nation_pair_trade_directions(spark, tmp_path):
    """Q7 counts BOTH directions of the pair as separate rows and
    excludes same-nation trade and third-party nations."""
    li = spark.createDataFrame(
        [
            # s1 (N18) ships to c1 (N19): direction 1
            (1, 1, 1, 1, 1.0, 100.0, 0.0, 0.0, "N", "O", "1996-02-01"),
            # s2 (N19) ships to c2 (N18): direction 2
            (2, 1, 2, 1, 1.0, 200.0, 0.0, 0.0, "N", "O", "1996-02-01"),
            # s1 (N18) ships to c2 (N18): same nation -> excluded
            (3, 1, 1, 1, 1.0, 400.0, 0.0, 0.0, "N", "O", "1996-02-01"),
            # s3 (N0) ships to c1 (N19): third party -> excluded
            (4, 1, 3, 1, 1.0, 800.0, 0.0, 0.0, "N", "O", "1996-02-01"),
        ],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate string",
    ).withColumn("l_shipdate", F.col("l_shipdate").cast("timestamp"))
    orders = spark.createDataFrame(
        [(1, 1, "O", 1.0, "1996-02-01", "1-URGENT"),
         (2, 2, "O", 1.0, "1996-02-01", "1-URGENT"),
         (3, 2, "O", 1.0, "1996-02-01", "1-URGENT"),
         (4, 1, "O", 1.0, "1996-02-01", "1-URGENT")],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp"))
    sup = spark.createDataFrame(
        [(1, "s1", 18, 0.0), (2, "s2", 19, 0.0), (3, "s3", 0, 0.0)],
        "s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
    )
    cust = spark.createDataFrame(
        [(1, "c1", 19, 0.0, "B"), (2, "c2", 18, 0.0, "B")],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string",
    )
    nation = spark.createDataFrame(
        [(18, "NATION_18", 0), (19, "NATION_19", 0), (0, "NATION_0", 0)],
        "n_nationkey int, n_name string, n_regionkey int",
    )
    for name, df in [("lineitem", li), ("orders", orders),
                     ("supplier", sup), ("customer", cust),
                     ("nation", nation)]:
        df.write.parquet(str(tmp_path / f"{name}.parquet"))
    from tsdisagg_spark.queries import QUERIES

    rows = {
        (r["supp_nation"], r["cust_nation"]): r
        for r in QUERIES["nation_pair_trade"](spark, str(tmp_path)).collect()
    }
    assert set(rows) == {
        ("NATION_18", "NATION_19"), ("NATION_19", "NATION_18")
    }
    assert rows[("NATION_18", "NATION_19")]["volume"] == 100.0
    assert rows[("NATION_19", "NATION_18")]["volume"] == 200.0


def test_group_drift_jsd_matches_python_reference(spark):
    """Bit-identity guard for the integer-lane Jensen-Shannon drift
    screen (profiling.py group_drift_jsd): recompute hashed cells,
    nano-nat entropy lanes over the common-denominator mixture, and the
    rounded JSD in pure hashlib/math.  Also pins the two boundary
    semantics: a group identical in mix to the rest reads ~0, and a
    group sharing no cells with the rest reads ~ln 2."""
    import hashlib
    import math

    B = 1024
    rows = [
        # s1 and s2: identical mixes -> jsd(s1 vs rest which is mostly
        # the same mix) near 0
        (1, "alpha beta gamma delta alpha beta", "en", "s1", 1),
        (2, "alpha beta gamma delta alpha beta", "en", "s2", 1),
        # s3: disjoint vocabulary
        (3, "zzz qqq www zzz qqq www zzz", "en", "s3", 1),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )

    def cell(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % B

    per, glob = {}, {}
    for _, s, _, src, _ in rows:
        for tok in re.split(r"\s+", s.strip().lower()):
            h = cell(tok)
            per.setdefault(src, {})
            per[src][h] = per[src].get(h, 0) + 1
            glob[h] = glob.get(h, 0) + 1
    T = sum(glob.values())
    lnq = lambda c: round(math.log(c) * 1e9)

    def pyref(src):
        cp = per[src]
        np_ = sum(cp.values())
        nq = T - np_
        sp = sum(c * lnq(c) for c in cp.values())
        sq = sum(
            (glob[h] - cp.get(h, 0)) * lnq(glob[h] - cp.get(h, 0))
            for h in glob
            if glob[h] - cp.get(h, 0) > 0
        )
        sm = 0
        for h in glob:
            N = cp.get(h, 0) * nq + (glob[h] - cp.get(h, 0)) * np_
            if N > 0:
                sm += N * lnq(N)
        d = float(2 * np_ * nq)
        hp = math.log(float(np_)) - sp / float(np_) / 1e9
        hq = math.log(float(nq)) - sq / float(nq) / 1e9
        return (
            np_,
            nq,
            len(cp),
            round(math.log(d) - sm / d / 1e9 - (hp + hq) / 2, 6),
        )

    from tsdisagg_spark.operators import profiling

    got = {
        r["source"]: (r["n_tokens"], r["n_rest"], r["n_cells"], r["jsd"])
        for r in profiling.group_drift_jsd(df, "source").collect()
    }
    for src in per:
        assert got[src] == pyref(src), src
    # s1 shares its mix with s2 (most of its "rest"); s3 is fully
    # disjoint from everything — the screen must rank them accordingly
    assert got["s1"][3] < got["s3"][3]
    assert got["s3"][3] > 0.5           # disjoint vocabulary


def test_late_event_audit_semantics(spark, tmp_path):
    """The watermark audit counts an event late for delay d iff it sits
    STRICTLY more than d behind the user's running high-water mark in
    arrival (event_id) order: an event exactly 60s late is dropped at
    delay 0 but kept at delay 60, each user's first event has no
    predecessor and never counts, and users never cross-contaminate."""
    rows = [
        # user 1: hwm advances to 10:00, then an event 60s behind it
        (1, 1, "click", "2024-01-01 10:00:00", "{}"),
        (2, 1, "view", "2024-01-01 09:59:00", "{}"),   # 60s late exactly
        (3, 1, "view", "2024-01-01 10:30:00", "{}"),   # on time
        # user 2: monotone -> nothing late
        (4, 2, "click", "2024-01-01 08:00:00", "{}"),
        (5, 2, "view", "2024-01-01 09:00:00", "{}"),
        # user 3: 2h behind -> late at every delay
        (6, 3, "click", "2024-01-01 12:00:00", "{}"),
        (7, 3, "view", "2024-01-01 10:00:00", "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, ts string, "
        "props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.write.parquet(str(tmp_path / "events.parquet"))
    from tsdisagg_spark.queries import QUERIES

    got = {
        r["delay_s"]: r
        for r in QUERIES["late_event_audit"](spark, str(tmp_path)).collect()
    }
    # 4 events have predecessors (ids 2,3,5,7)
    assert all(got[d]["n_events"] == 4 for d in (0, 60, 600, 3600))
    assert got[0]["n_late"] == 2       # the 60s-late and the 2h-late
    assert got[60]["n_late"] == 1      # exactly-60s is NOT > 60s
    assert got[600]["n_late"] == 1
    assert got[3600]["n_late"] == 1    # 2h > 1h
    assert got[60]["late_share"] == 0.25


def test_late_event_audit_empty_lateness_is_empty(spark, tmp_path):
    """ADVICE r10 fix, pinned: when NO event has a predecessor (every
    user logged exactly one event) the audit is EMPTY — not a 4-row
    fanout of n_events=0 / NULL late_share (Spark's global agg on empty
    input yields one row; the n>0 guard drops it so both engines agree
    the degenerate corpus has nothing to audit)."""
    rows = [
        (1, 1, "click", "2024-01-01 10:00:00", "{}"),
        (2, 2, "view", "2024-01-01 11:00:00", "{}"),
        (3, 3, "view", "2024-01-01 12:00:00", "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, ts string, "
        "props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.write.parquet(str(tmp_path / "events.parquet"))
    from tsdisagg_spark.queries import QUERIES

    assert QUERIES["late_event_audit"](spark, str(tmp_path)).count() == 0


def test_group_drift_jsd_single_group_null_not_error(spark):
    """ADVICE r10 fix, pinned: a single-group corpus has an EMPTY rest
    (n_rest = 0) — the drift screen must emit an explicit NULL jsd for
    that group (defined, engine-portable) instead of ln(0)/div-by-zero
    noise; groups with a real rest still get a value.  Covers both the
    text and categorical variants through the shared lane core."""
    from tsdisagg_spark.operators import profiling

    one = spark.createDataFrame(
        [(1, "alpha beta gamma", "solo")], "doc_id long, text string, source string"
    )
    rows = profiling.group_drift_jsd(one, "source").collect()
    assert len(rows) == 1
    assert rows[0]["n_rest"] == 0 and rows[0]["jsd"] is None
    assert rows[0]["n_tokens"] == 3

    cat = spark.createDataFrame(
        [(1, "click"), (2, "view")], "g int, v string"
    ).withColumn("g", F.lit("only"))
    out = profiling.group_value_drift_jsd(cat, "g", "v").collect()
    assert len(out) == 1 and out[0]["jsd"] is None and out[0]["n_rest"] == 0


def test_group_value_drift_jsd_null_category(spark):
    """ADVICE r11 fix, pinned: NULL is a legal category cell (it is
    exactly the logging-regression signal the drift monitor exists to
    catch), so the dense-grid join must be NULL-SAFE — with a plain
    equality join the emitting group's own NULL-cell count lands in the
    rest lane and the statistic is silently wrong.  Hand-computed case:
    d1 = {click: 3, NULL: 2} vs d2 = {click: 15}; p = (.6, .4),
    q = (1, 0), m = (.8, .2) -> JSD = H(m) - (H(p)+H(q))/2
    = 0.500402 - 0.336506 = 0.163897 (the null-unsafe join returned
    0.598211 for d1).  The equal-weight mixture makes the screen
    symmetric for two groups, so d2 reads the same value."""
    from tsdisagg_spark.operators import profiling

    rows = (
        [("d1", "click")] * 3
        + [("d1", None)] * 2
        + [("d2", "click")] * 15
    )
    df = spark.createDataFrame(rows, "g string, v string")
    out = {
        r["g"]: r
        for r in profiling.group_value_drift_jsd(df, "g", "v").collect()
    }
    assert out["d1"]["n_tokens"] == 5 and out["d1"]["n_rest"] == 15
    assert out["d1"]["n_cells"] == 2  # NULL cell counted as present
    assert abs(out["d1"]["jsd"] - 0.163897) < 1e-6
    assert out["d2"]["n_cells"] == 1
    assert abs(out["d2"]["jsd"] - 0.163897) < 1e-6

    # NULL group key: two groups with IDENTICAL mixes must both read
    # jsd = 0, including the NULL-keyed one (null-unsafe joins zero out
    # the NULL group's own counts instead).
    df2 = spark.createDataFrame(
        [(None, "a"), (None, "a"), ("x", "a"), ("x", "a")],
        "g string, v string",
    )
    out2 = {
        r["g"]: r["jsd"]
        for r in profiling.group_value_drift_jsd(df2, "g", "v").collect()
    }
    assert out2[None] == 0.0 and out2["x"] == 0.0


def test_customer_spend_gini_known_values(spark, tmp_path):
    """Gini on hand-computable spend vectors: equal spends -> 0, the
    1-2-3-4 ladder -> exactly 0.25, and a whale segment reads near 1.
    Also exercises the tie order (equal spends sorted by custkey leave
    sum(i*x) unchanged)."""
    orders, customers = [], []
    ok = 1
    # segment A: four customers spending 1,2,3,4 dollars -> gini 0.25
    for ck, d in zip((1, 2, 3, 4), (1.0, 2.0, 3.0, 4.0)):
        customers.append((ck, f"c{ck}", 0, 0.0, "A"))
        orders.append((ok, ck, "O", d, "2024-01-01", "1-URGENT")); ok += 1
    # segment B: equal spends (ties) -> gini 0
    for ck in (10, 11, 12):
        customers.append((ck, f"c{ck}", 0, 0.0, "B"))
        orders.append((ok, ck, "O", 5.0, "2024-01-01", "1-URGENT")); ok += 1
    # segment C: one whale among tiny spenders -> gini near 1
    for ck in (20, 21, 22, 23):
        customers.append((ck, f"c{ck}", 0, 0.0, "C"))
        orders.append(
            (ok, ck, "O", 0.01 if ck != 23 else 10000.0,
             "2024-01-01", "1-URGENT")
        ); ok += 1
    o = spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp"))
    c = spark.createDataFrame(
        customers,
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string",
    )
    o.write.parquet(str(tmp_path / "orders.parquet"))
    c.write.parquet(str(tmp_path / "customer.parquet"))
    from tsdisagg_spark.queries import QUERIES

    got = {
        r["segment"]: r
        for r in QUERIES["customer_spend_gini"](spark, str(tmp_path)).collect()
    }
    assert got["A"]["gini"] == 0.25
    assert got["B"]["gini"] == 0.0
    assert got["C"]["gini"] > 0.7
    assert got["A"]["total_spend_cents"] == 1000


def test_incremental_monthly_revenue_merge_semantics(spark, tmp_path):
    """The delta merge must handle all three month classes: base-only
    (no batch orders that month), batch-only (a month the base has never
    seen — the full-outer's null side), and overlapping (partial sums
    add)."""
    rows = [
        # month 1: base only (orderkeys not divisible by 5)
        (1, 1, "O", 10.0, "2024-01-15", "1-URGENT"),
        # month 2: overlap — base 20.0 + batch 5.0
        (2, 1, "O", 20.0, "2024-02-15", "1-URGENT"),
        (5, 1, "O", 5.0, "2024-02-20", "1-URGENT"),
        # month 3: batch only
        (10, 1, "O", 7.5, "2024-03-15", "1-URGENT"),
    ]
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp"))
    df.write.parquet(str(tmp_path / "orders.parquet"))
    from tsdisagg_spark.queries import QUERIES

    got = {
        r["month"].month: (r["revenue_cents"], r["n_orders"])
        for r in QUERIES["incremental_monthly_revenue"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got == {1: (1000, 1), 2: (2500, 2), 3: (750, 1)}


def test_customer_order_distribution_includes_zero(spark, tmp_path):
    """Q13's defining edge: customers with NO orders appear in the
    c_count = 0 bucket (an inner join silently drops them)."""
    cust = spark.createDataFrame(
        [(k, f"c{k}", 0, 0.0, "B") for k in (1, 2, 3)],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string",
    )
    orders = spark.createDataFrame(
        [(1, 1, "O", 1.0, "2024-01-01", "1-URGENT"),
         (2, 1, "O", 1.0, "2024-01-02", "1-URGENT"),
         (3, 2, "O", 1.0, "2024-01-03", "1-URGENT")],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp"))
    cust.write.parquet(str(tmp_path / "customer.parquet"))
    orders.write.parquet(str(tmp_path / "orders.parquet"))
    from tsdisagg_spark.queries import QUERIES

    got = {
        r["c_count"]: r["custdist"]
        for r in QUERIES["customer_order_distribution"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got == {0: 1, 1: 1, 2: 1}


def test_interval_overlap_join_semantics(spark):
    """interval_overlap_join hand-case: closed-interval overlap (a
    zero-length session still meets the window containing it), the
    exactly-once overlap-start-bucket rule (a pair sharing N buckets
    emits ONE row, no distinct), non-overlapping pairs dropped, and the
    column-clash / bucket-width guards."""
    import pytest as _pytest

    from tsdisagg_spark.operators.joins import interval_overlap_join

    ts = lambda s: f"2001-01-01 {s}"
    left = spark.createDataFrame(
        [
            ("A", ts("10:00:00"), ts("10:00:00")),  # zero-length
            ("B", ts("10:00:00"), ts("12:00:00")),  # spans 3 one-hour buckets
            ("C", ts("13:00:00"), ts("13:30:00")),  # overlaps nothing
        ],
        "lid string, s_lo string, s_hi string",
    ).select(
        "lid",
        F.col("s_lo").cast("timestamp").alias("s_lo"),
        F.col("s_hi").cast("timestamp").alias("s_hi"),
    )
    right = spark.createDataFrame(
        [
            ("W1", ts("09:30:00"), ts("10:15:00")),  # meets A (contains) + B
            ("W2", ts("10:30:00"), ts("11:00:00")),  # meets B only
            ("W3", ts("11:30:00"), ts("12:30:00")),  # meets B across 2 buckets
        ],
        "rid string, w_lo string, w_hi string",
    ).select(
        "rid",
        F.col("w_lo").cast("timestamp").alias("w_lo"),
        F.col("w_hi").cast("timestamp").alias("w_hi"),
    )
    got = sorted(
        (r["lid"], r["rid"])
        for r in interval_overlap_join(
            left, right, "s_lo", "s_hi", "w_lo", "w_hi", bucket_seconds=3600
        ).collect()
    )
    # every overlapping pair exactly once — W3/B share two buckets but
    # emit one row; zero-length A meets the window that contains it
    assert got == [("A", "W1"), ("B", "W1"), ("B", "W2"), ("B", "W3")]

    with _pytest.raises(ValueError, match="share column names"):
        interval_overlap_join(
            left, left, "s_lo", "s_hi", "s_lo", "s_hi"
        )
    with _pytest.raises(ValueError, match="bucket_seconds"):
        interval_overlap_join(
            left, right, "s_lo", "s_hi", "w_lo", "w_hi", bucket_seconds=0
        )


def test_interval_overlap_join_property_vs_python(spark):
    """Randomized interval sets vs a pure-Python brute force: the
    bucketized overlap join emits EXACTLY the closed-interval
    overlapping pairs, each exactly once, for widths both smaller and
    larger than the interval lengths (the exactly-once start-bucket
    rule must hold at any width)."""
    from datetime import datetime, timedelta

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from tsdisagg_spark.operators.joins import interval_overlap_join

    base = datetime(2001, 1, 1)

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        left=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=5000),
                st.integers(min_value=0, max_value=4000),
            ),
            min_size=1,
            max_size=8,
        ),
        right=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=5000),
                st.integers(min_value=0, max_value=4000),
            ),
            min_size=1,
            max_size=8,
        ),
        width=st.sampled_from([60, 900, 7200]),
    )
    def check(left, right, width):
        mk = lambda s, d: (
            base + timedelta(seconds=s),
            base + timedelta(seconds=s + d),
        )
        lrows = [(i,) + mk(s, d) for i, (s, d) in enumerate(left)]
        rrows = [(j,) + mk(s, d) for j, (s, d) in enumerate(right)]
        ldf = spark.createDataFrame(
            lrows, "lid long, a_lo timestamp, a_hi timestamp"
        )
        rdf = spark.createDataFrame(
            rrows, "rid long, b_lo timestamp, b_hi timestamp"
        )
        got = sorted(
            (r["lid"], r["rid"])
            for r in interval_overlap_join(
                ldf, rdf, "a_lo", "a_hi", "b_lo", "b_hi",
                bucket_seconds=width,
            ).collect()
        )
        want = sorted(
            (i, j)
            for i, alo, ahi in lrows
            for j, blo, bhi in rrows
            if alo <= bhi and blo <= ahi
        )
        assert got == want

    check()


def test_mg_merge_known_case():
    """Misra-Gries merge on the textbook stream: k=2 counters over
    a a b b b c — after absorbing everything in one batch the summary
    keeps the two heavy keys with decremented = the compression cut,
    and the error certificate brackets every true count."""
    from tsdisagg_spark.streaming import mg_merge

    summary, dec = mg_merge({}, {"a": 2, "b": 3, "c": 1}, k=2, decremented=0)
    assert dec == 1 and summary == {"a": 1, "b": 2}
    truth = {"a": 2, "b": 3, "c": 1}
    for key, c in summary.items():
        assert c <= truth[key] <= c + dec
    # absorbed incrementally (two merges) the bound still holds
    s2, d2 = mg_merge({}, {"a": 2, "b": 1}, k=2, decremented=0)
    s2, d2 = mg_merge(s2, {"b": 2, "c": 1}, k=2, decremented=d2)
    assert len(s2) <= 2
    for key, c in s2.items():
        assert c <= truth[key] <= c + d2


def test_stream_heavy_hitters_guarantee(spark, tmp_path):
    """The streaming Misra-Gries candidate store, pinned end-to-end on a
    real multi-batch stream: every EXACT global heavy hitter (count*20 >
    n) survives in the final state (hash-sharding puts a key's whole
    count on one shard, where C > n_s/(k+1) guarantees survival), every
    reported count is a lower bound within the shard's decrement
    certificate, and the state stays bounded at k counters per shard
    across micro-batch boundaries."""
    from collections import Counter

    from tsdisagg_spark.streaming import stream_heavy_hitter_candidates

    # Zipf-ish key stream: term ti appears ~600/i times
    rows = []
    rid = 0
    for i in range(1, 40):
        for _ in range(600 // i):
            rows.append((rid, f"t{i}"))
            rid += 1
    import random

    random.Random(7).shuffle(rows)
    df = spark.createDataFrame(rows, "row_id long, term string")
    src = str(tmp_path / "hh_stream")
    n_files = 5
    per = (len(rows) + n_files - 1) // n_files
    for f in range(n_files):
        df.filter(
            (F.col("row_id") >= f * per) & (F.col("row_id") < (f + 1) * per)
        ).coalesce(1).write.mode("append").parquet(src)

    truth = Counter(term for _, term in rows)
    n = sum(truth.values())
    exact_hitters = {t for t, c in truth.items() if c * 20 > n}
    assert len(exact_hitters) >= 3  # the test must test something

    K, SHARDS = 8, 4
    stream = spark.readStream.schema(df.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    out = stream_heavy_hitter_candidates(stream, "term", k=K, n_shards=SHARDS)
    emissions: list = []

    def sink(bdf, bid):
        emissions.extend((bid,) + tuple(r) for r in bdf.collect())

    q = out.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    q.awaitTermination(180)

    # final state = the last emission per shard
    last_bid = {}
    for bid, shard, *_ in emissions:
        last_bid[shard] = max(last_bid.get(shard, -1), bid)
    final = [
        (shard, key, lower, n_seen, dec)
        for bid, shard, key, lower, n_seen, dec in emissions
        if bid == last_bid[shard]
    ]
    assert len({s for s, *_ in final}) == SHARDS
    per_shard = Counter(s for s, *_ in final)
    assert all(c <= K for c in per_shard.values())  # bounded state
    candidates = {key for _, key, *_ in final}
    assert exact_hitters <= candidates, (
        exact_hitters - candidates, sorted(final)
    )
    shard_n = {s: ns for s, _, _, ns, _ in final}
    assert sum(shard_n.values()) == n  # every row counted exactly once
    for shard, key, lower, n_seen, dec in final:
        assert lower <= truth[key] <= lower + dec, (shard, key, lower, dec)


def test_stream_heavy_hitters_null_key_distinct(spark, tmp_path):
    """NULL keys are a first-class counter, distinct from '' and from the
    literal token 'nan' (ADVICE r12: None/NaN previously folded into one
    of those), and the emitted candidate carries a NULL key — the
    internal sentinel never leaves the store.  A single shard and k
    large enough that nothing compresses makes the counts exact."""
    from tsdisagg_spark.streaming import stream_heavy_hitter_candidates

    rows = (
        [(i, None) for i in range(40)]
        + [(100 + i, "") for i in range(7)]
        + [(200 + i, "nan") for i in range(5)]
        + [(300 + i, "x") for i in range(3)]
    )
    df = spark.createDataFrame(rows, "row_id long, term string")
    src = str(tmp_path / "hh_null_stream")
    df.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    out = stream_heavy_hitter_candidates(stream, "term", k=10, n_shards=1)
    got: list = []

    def sink(bdf, _bid):
        got.extend(tuple(r) for r in bdf.collect())

    q = out.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    q.awaitTermination(120)
    counts = {key: lower for _, key, lower, _, _ in got}
    assert counts == {None: 40, "": 7, "nan": 5, "x": 3}
    assert all(dec == 0 for *_, dec in got)  # nothing compressed: exact


def test_winnowing_sharded_build_equals_direct(spark):
    """The shard-parallel index build, pinned:
    finalize(union(raw(shard_A), raw(shard_B))) must equal
    winnowing_posting_index(corpus) EXACTLY — including the case that
    makes per-shard capping WRONG: a boilerplate hash under the df_cap
    in every shard but over it in the union (here: 6 docs share a
    12-word block, cap 3 — each 3-doc shard keeps it, the true index
    drops it).  Also: the probe rejects raw (uncapped) postings, and
    finalize rejects an already-finalized index."""
    import pytest as _pytest

    from tsdisagg_spark.operators import text as text_ops

    boiler = "the quick brown fox jumps over the lazy dog again and again"
    docs = [
        (i, f"unique{i} words{i} " + boiler + f" tail{i} end{i}")
        for i in range(1, 7)
    ]
    corpus = spark.createDataFrame(docs, "doc_id long, text string")
    shard_a = corpus.filter(F.col("doc_id") <= 3)
    shard_b = corpus.filter(F.col("doc_id") > 3)

    direct = text_ops.winnowing_posting_index(
        corpus, k=4, window=5, df_cap=3
    )
    merged = text_ops.winnowing_finalize_index(
        text_ops.winnowing_raw_postings(shard_a, k=4, window=5).unionByName(
            text_ops.winnowing_raw_postings(shard_b, k=4, window=5)
        ),
        df_cap=3,
    )
    want = sorted(tuple(r) for r in direct.collect())
    got = sorted(tuple(r) for r in merged.collect())
    assert got == want and want  # exact equality, non-trivially
    assert dict(merged.schema["fp"].metadata) == dict(
        direct.schema["fp"].metadata
    )

    # ... and the PROBE path rides the contract too (VERDICT r12 #6):
    # probing an ingest batch through a shard-built index must emit the
    # exact pair set the direct-build probe emits.  Needs its own corpus
    # with LONG unique regions — in the boilerplate fixture above every
    # selected hash of every doc is capped out (doc-1 postings: zero),
    # which would make the equality trivially [] == [].  Here each doc
    # carries 10 unique prefix/tail words, so its df=1 hashes survive
    # the cap and the batch (a whole-doc-1 clone) probes to a REAL pair.
    # The x100-tier twin of this assertion is
    # tools/winnow_probe_shard_stress.py (SCALING.md "Round 13").
    upre = lambda i: " ".join(f"p{i}q{j}" for j in range(10))
    utail = lambda i: " ".join(f"t{i}r{j}" for j in range(10))
    docs2 = [(i, f"{upre(i)} {boiler} {utail(i)}") for i in range(1, 7)]
    corpus2 = spark.createDataFrame(docs2, "doc_id long, text string")
    direct2 = text_ops.winnowing_posting_index(
        corpus2, k=4, window=5, df_cap=3
    )
    merged2 = text_ops.winnowing_finalize_index(
        text_ops.winnowing_raw_postings(
            corpus2.filter(F.col("doc_id") <= 3), k=4, window=5
        ).unionByName(
            text_ops.winnowing_raw_postings(
                corpus2.filter(F.col("doc_id") > 3), k=4, window=5
            )
        ),
        df_cap=3,
    )
    batch = spark.createDataFrame(
        [(100, docs2[0][1] + " novel suffix here")],
        "doc_id long, text string",
    )
    probe_direct = sorted(
        tuple(r)
        for r in text_ops.winnowing_probe_pairs(
            batch, direct2, min_shared=1
        ).collect()
    )
    probe_merged = sorted(
        tuple(r)
        for r in text_ops.winnowing_probe_pairs(
            batch, merged2, min_shared=1
        ).collect()
    )
    assert probe_merged == probe_direct and probe_direct  # non-trivially

    # the per-shard-capped "merge" is WRONG: it keeps boilerplate
    # postings the true index drops (df 3+3 > cap 3)
    naive = sorted(
        tuple(r)
        for r in text_ops.winnowing_posting_index(
            shard_a, k=4, window=5, df_cap=3
        )
        .unionByName(
            text_ops.winnowing_posting_index(shard_b, k=4, window=5, df_cap=3)
        )
        .collect()
    )
    assert len(naive) > len(want)

    raw = text_ops.winnowing_raw_postings(corpus, k=4, window=5)
    with _pytest.raises(ValueError, match="format"):
        text_ops.winnowing_probe_pairs(corpus, raw)
    with _pytest.raises(ValueError, match="finalized"):
        text_ops.winnowing_finalize_index(merged, df_cap=3)


def test_dsir_sharded_build_equals_direct(spark):
    """The shard-parallel DSIR index build, pinned:
    finalize(merge(raw(shard_A), raw(shard_B))) must equal
    dsir_cell_table(corpus) exactly — integer cell counts merge via the
    streaming MV contract and both paths evaluate the identical
    smoothing expression on identical integers.  The merge validates
    tags (format + bucket modulus) and finalize rejects untagged
    input."""
    import pytest as _pytest

    from tsdisagg_spark.operators import sampling

    docs = [
        (i, ("tgt" if i % 3 == 0 else "web"),
         f"alpha beta w{i} gamma delta w{i} epsilon zeta")
        for i in range(1, 13)
    ]
    corpus = spark.createDataFrame(docs, "doc_id long, source string, text string")
    tgt = F.col("source") == "tgt"
    shard_a = corpus.filter(F.col("doc_id") % 2 == 0)
    shard_b = corpus.filter(F.col("doc_id") % 2 == 1)

    direct = sampling.dsir_cell_table(corpus, tgt)
    merged = sampling.dsir_finalize_cells(
        sampling.dsir_merge_cells(
            sampling.dsir_raw_cells(shard_a, tgt),
            sampling.dsir_raw_cells(shard_b, tgt),
        )
    )
    want = sorted(tuple(r) for r in direct.collect())
    got = sorted(tuple(r) for r in merged.collect())
    assert got == want and want
    assert dict(merged.schema["__lam"].metadata) == dict(
        direct.schema["__lam"].metadata
    )
    # scoring accepts the merged-built table exactly like the direct one
    batch = spark.createDataFrame(
        [(100, False, "alpha beta gamma delta")],
        "doc_id long, __t boolean, text string",
    )
    s_direct = sampling.dsir_score(batch, direct).collect()
    s_merged = sampling.dsir_score(batch, merged).collect()
    assert sorted(map(tuple, s_direct)) == sorted(map(tuple, s_merged))

    with _pytest.raises(ValueError, match="bucket-modulus"):
        sampling.dsir_merge_cells(
            sampling.dsir_raw_cells(shard_a, tgt, buckets=512),
            sampling.dsir_raw_cells(shard_b, tgt, buckets=1024),
        )
    with _pytest.raises(ValueError, match="raw format"):
        sampling.dsir_merge_cells(direct, sampling.dsir_raw_cells(shard_b, tgt))
    with _pytest.raises(ValueError, match="raw format"):
        sampling.dsir_finalize_cells(corpus)


def test_band_and_chunk_indices_shard_merge_by_union(spark):
    """The index-merge matrix, completed: the PER-DOCUMENT indices must
    merge across disjoint corpus shards by plain union — MinHash and
    SimHash band entries are pure per-row/per-doc computations, and the
    chunk-digest index's corpus-level step is a DISTINCT (idempotent,
    so union + distinct is exact).  This is the guard that keeps these
    builds shard-parallel: if anyone adds a corpus-level statistic
    (a df-cap, a frequency prune) to one of these builders, shard
    builds silently stop composing and this equality breaks — the
    winnowing df-cap and DSIR log-ratio, which DO have corpus-level
    steps, carry their own raw/finalize splits instead."""
    from tsdisagg_spark.operators import dedup as dedup_ops
    from tsdisagg_spark.operators import text as text_ops

    docs = [
        (i, " ".join(f"w{(i * 7 + j) % 23}" for j in range(40)))
        for i in range(1, 9)
    ]
    corpus = spark.createDataFrame(docs, "doc_id long, text string")
    a = corpus.filter(F.col("doc_id") % 2 == 0)
    b = corpus.filter(F.col("doc_id") % 2 == 1)

    rows = lambda df: sorted(tuple(r) for r in df.collect())

    direct = rows(dedup_ops.minhash_band_index(corpus))
    assert direct and rows(
        dedup_ops.minhash_band_index(a).unionByName(
            dedup_ops.minhash_band_index(b)
        )
    ) == direct

    direct = rows(dedup_ops.simhash_band_index(corpus))
    assert direct and rows(
        dedup_ops.simhash_band_index(a).unionByName(
            dedup_ops.simhash_band_index(b)
        )
    ) == direct

    direct = rows(text_ops.chunk_index(corpus, size=8))
    assert direct and rows(
        text_ops.chunk_index(a, size=8)
        .unionByName(text_ops.chunk_index(b, size=8))
        .distinct()
    ) == direct


def test_dsir_index_stream_maintenance_equals_batch(spark, tmp_path):
    """The continuously-maintained DSIR index, pinned end-to-end: raw
    cell counts kept fresh by per-micro-batch dsir_merge_cells folds
    over a real file stream, finalized on demand, must equal the
    one-shot dsir_cell_table over the same documents exactly — the
    stream-maintained and fleet-built index are the same object."""
    from tsdisagg_spark.operators import sampling

    docs = [
        (i, ("tgt" if i % 3 == 0 else "web"),
         f"alpha beta w{i % 7} gamma delta w{i % 5} epsilon zeta")
        for i in range(1, 25)
    ]
    df = spark.createDataFrame(docs, "doc_id long, source string, text string")
    src = str(tmp_path / "dsir_stream")
    for lo in range(1, 25, 7):
        df.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 7)
        ).coalesce(1).write.mode("append").parquet(src)

    tgt = F.col("source") == "tgt"
    want = sorted(
        tuple(r) for r in sampling.dsir_cell_table(df, tgt).collect()
    )

    state = {"cells": None}

    def sink(bdf, _bid):
        if bdf.isEmpty():
            return
        raw = sampling.dsir_raw_cells(bdf, tgt)
        merged = (
            raw
            if state["cells"] is None
            else sampling.dsir_merge_cells(state["cells"], raw)
        )
        # localCheckpoint drops column metadata in some Spark versions;
        # re-attach the raw tag so the next merge's gate still holds
        cp = merged.localCheckpoint()
        meta = dict(merged.schema["__th"].metadata)
        state["cells"] = cp.select(
            "__h", F.col("__th").alias("__th", metadata=meta), "__rh"
        )

    stream = spark.readStream.schema(df.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = stream.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    q.awaitTermination(180)

    got = sorted(
        tuple(r)
        for r in sampling.dsir_finalize_cells(state["cells"]).collect()
    )
    assert got == want and len(want) > 5


def test_mg_merge_property_bounds_and_survival():
    """Misra-Gries invariants on random streams, any batch cut: (1) the
    summary never exceeds k counters, (2) every reported count is a
    lower bound within the decrement certificate, (3) every key with
    true count > n/(k+1) SURVIVES (the pigeonhole guarantee the
    streaming heavy-hitter operator's sharding argument rests on), and
    (4) the certificate itself respects dec <= n/(k+1)."""
    from collections import Counter

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from tsdisagg_spark.streaming import mg_merge

    @settings(max_examples=200, deadline=None)
    @given(
        stream=st.lists(
            st.sampled_from([f"k{i}" for i in range(12)]),
            min_size=1,
            max_size=120,
        ),
        k=st.integers(min_value=1, max_value=6),
        cuts=st.lists(
            st.integers(min_value=1, max_value=119), max_size=4
        ),
    )
    def check(stream, k, cuts):
        n = len(stream)
        bounds = sorted({c for c in cuts if c < n}) + [n]
        summary, dec = {}, 0
        lo = 0
        for hi in bounds:
            batch = Counter(stream[lo:hi])
            summary, dec = mg_merge(summary, dict(batch), k, dec)
            lo = hi
        truth = Counter(stream)
        assert len(summary) <= k
        assert dec * (k + 1) <= n
        for key, c in summary.items():
            assert 0 < c <= truth[key] <= c + dec
        for key, cnt in truth.items():
            if cnt * (k + 1) > n:
                assert key in summary, (key, cnt, n, k, summary, dec)

    check()


def test_grid_quantiles_stream_equals_batch(spark, tmp_path):
    """The continuously-maintained percentile monitor, pinned: the
    per-(priority, cents) value histogram is key-grain integer state a
    stream keeps fresh with merge_partial_aggregates; reading it with
    grid_quantiles_over_hist must equal the one-shot
    order_value_grid_quantiles query over the same orders exactly
    (counts merge exactly; the integer rank test is a deterministic
    function of the counts).  Third member of the MV-monitor family
    next to the drift screen and the DSIR raw cells."""
    from tsdisagg_spark.operators.sketches import grid_quantiles_over_hist
    from tsdisagg_spark.queries import QUERIES
    from tsdisagg_spark.streaming import merge_partial_aggregates

    rows = [
        (k, k % 17, f"{1 + k % 5}-P", float(100 + (k * 37) % 900) / 4,
         "2001-01-0%d" % (1 + k % 9))
        for k in range(1, 301)
    ]
    orders = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderpriority string, "
        "o_totalprice double, o_orderdate string",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp"))
    orders.write.parquet(str(tmp_path / "orders.parquet"))

    want = sorted(
        tuple(r)
        for r in QUERIES["order_value_grid_quantiles"](
            spark, str(tmp_path)
        ).collect()
    )
    assert len(want) == 5

    src = str(tmp_path / "stream_src")
    for lo in range(1, 301, 83):
        orders.filter(
            (F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < lo + 83)
        ).coalesce(1).write.mode("append").parquet(src)

    agg = lambda df: df.groupBy(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("__v"),
    ).agg(F.count(F.lit(1)).alias("__cnt"))
    state = {"hist": None}

    def sink(bdf, _bid):
        if bdf.isEmpty():
            return
        part = agg(bdf)
        merged = (
            part
            if state["hist"] is None
            else merge_partial_aggregates(
                state["hist"], part,
                keys=("o_orderpriority", "__v"), sum_cols=("__cnt",),
            )
        )
        state["hist"] = merged.localCheckpoint()

    stream = spark.readStream.schema(orders.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = stream.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    q.awaitTermination(180)

    got = sorted(
        tuple(r)
        for r in grid_quantiles_over_hist(
            state["hist"], [(1, 4), (1, 2), (3, 4)],
            group_cols=["o_orderpriority"],
        ).collect()
    )
    assert got == want


def test_psi_ref_hist_stream_equals_batch(spark, tmp_path):
    """The PSI reference histogram as MV state, pinned (fourth member of
    the MV-monitor family): per-micro-batch partial (__v, __cnt) value
    histograms of the reference week merge through
    merge_partial_aggregates, and group_value_psi(ref_hist=state) must
    equal the one-shot group_value_psi(ref=rows) EXACTLY — counts merge
    exactly, and edges/bin masses/n_ref are deterministic functions of
    the counts.  Also pins the ref/ref_hist argument contract."""
    import pytest as _pytest

    from tsdisagg_spark.operators.profiling import group_value_psi
    from tsdisagg_spark.streaming import merge_partial_aggregates

    rows = [
        (k, "2024-01-%02d" % (1 + k % 14), float(10 + (k * 53) % 997) / 8)
        for k in range(1, 401)
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, day string, value double"
    ).withColumn("day", F.col("day").cast("timestamp"))
    ref = ev.filter(F.col("day") < F.lit("2024-01-08").cast("timestamp"))

    want = sorted(
        tuple(r)
        for r in group_value_psi(ev, "day", "value", ref=ref).collect()
    )
    assert len(want) == 14 and any(p != 0.0 for *_, p in want)

    src = str(tmp_path / "psi_ref_stream")
    for lo in range(1, 401, 107):
        ref.filter(
            (F.col("event_id") >= lo) & (F.col("event_id") < lo + 107)
        ).coalesce(1).write.mode("append").parquet(src)

    agg = lambda df: df.groupBy(
        F.floor(F.col("value") * 1_000_000).cast("long").alias("__v")
    ).agg(F.count(F.lit(1)).alias("__cnt"))
    state = {"hist": None}

    def sink(bdf, _bid):
        if bdf.isEmpty():
            return
        part = agg(bdf)
        merged = (
            part
            if state["hist"] is None
            else merge_partial_aggregates(
                state["hist"], part, keys=("__v",), sum_cols=("__cnt",)
            )
        )
        state["hist"] = merged.localCheckpoint()

    stream = spark.readStream.schema(ref.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = stream.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    q.awaitTermination(180)

    got = sorted(
        tuple(r)
        for r in group_value_psi(
            ev, "day", "value", ref_hist=state["hist"]
        ).collect()
    )
    assert got == want

    with _pytest.raises(ValueError, match="exactly one"):
        group_value_psi(ev, "day", "value")
    with _pytest.raises(ValueError, match="exactly one"):
        group_value_psi(
            ev, "day", "value", ref=ref, ref_hist=state["hist"]
        )


def test_psi_identity_zero_and_numpy_crosscheck(spark):
    """PSI semantics pinned: (1) a group whose rows ARE the reference
    population scores psi == 0.0 EXACTLY (identical counts make every
    smoothed share pair equal — no float residue survives the subtract);
    (2) a shifted group matches an independent numpy recomputation of
    the same definition (ceil-rank decile edges, count(edges < v) bins,
    add-one smoothing) to 1e-12 before the 6-dec round; (3) a
    single-valued reference degenerates every edge to that value and
    the math still closes (bins 0 and 9 only)."""
    import numpy as np

    from tsdisagg_spark.operators.profiling import group_value_psi

    vals = [float(7 + (k * 31) % 83) / 4 for k in range(200)]
    rows = [("ref", v) for v in vals] + [("shift", v + 3.7) for v in vals]
    df = spark.createDataFrame(rows, "grp string, value double")
    ref = df.filter(F.col("grp") == "ref").select("value")
    out = {
        r["grp"]: (r["n_values"], r["psi"])
        for r in group_value_psi(df, "grp", "value", ref=ref).collect()
    }
    assert out["ref"] == (200, 0.0)

    # independent numpy recomputation for the shifted group
    qv = np.floor(np.array(vals) * 1_000_000).astype(np.int64)
    sq = np.sort(qv)
    n = len(sq)
    edges = np.array(
        [sq[int(np.ceil(n * k / 10.0)) - 1] for k in range(1, 10)]
    )
    qs = np.floor((np.array(vals) + 3.7) * 1_000_000).astype(np.int64)
    bins_cur = (qs[:, None] > edges[None, :]).sum(axis=1)
    bins_ref = (qv[:, None] > edges[None, :]).sum(axis=1)
    c = np.bincount(bins_cur, minlength=10).astype(float)
    r = np.bincount(bins_ref, minlength=10).astype(float)
    p = (c + 1) / (n + 10)
    q = (r + 1) / (n + 10)
    psi_np = float(((p - q) * np.log(p / q)).sum())
    assert abs(out["shift"][1] - round(psi_np, 6)) < 1.5e-6

    # degenerate single-valued reference
    one = spark.createDataFrame(
        [("g", 5.0)] * 6 + [("g", 9.0)] * 2, "grp string, value double"
    )
    ref1 = spark.createDataFrame([(5.0,)] * 4, "value double")
    got = group_value_psi(one, "grp", "value", ref=ref1).collect()
    assert len(got) == 1 and got[0]["n_values"] == 8
    c = np.array([6.0] + [0.0] * 8 + [2.0])
    r = np.array([4.0] + [0.0] * 9)
    p = (c + 1) / (8 + 10)
    q = (r + 1) / (4 + 10)
    want = round(float(((p - q) * np.log(p / q)).sum()), 6)
    assert got[0]["psi"] == want


def test_stream_overlap_join_span_guard_raises(spark):
    """The streaming overlap join's declared-span enforcement: an
    interval longer than its declared max span must FAIL the job with
    the loud guard message — silent violation would silently drop true
    pairs once eviction bounds derived from the span kick in."""
    import datetime as dt

    import pytest as _pytest

    from tsdisagg_spark.streaming.joins import interval_overlap_join

    t0 = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(1, t0, t0 + dt.timedelta(hours=5))],
        "lid long, l_lo timestamp, l_hi timestamp",
    )
    right = spark.createDataFrame(
        [(2, t0, t0 + dt.timedelta(minutes=5))],
        "rid long, r_lo timestamp, r_hi timestamp",
    )
    out = interval_overlap_join(
        left, right, "l_lo", "l_hi", "r_lo", "r_hi",
        max_left_span="1 hour", max_right_span="10 minutes",
        bucket_seconds=600,
    )
    with _pytest.raises(Exception, match="exceeds its declared max span"):
        out.collect()
    # within the declared spans the same call pairs normally
    ok = interval_overlap_join(
        left, right, "l_lo", "l_hi", "r_lo", "r_hi",
        max_left_span="6 hours", max_right_span="10 minutes",
        bucket_seconds=600,
    )
    assert ok.count() == 1


def test_const_vec_literals_bit_identical(spark):
    """_const_vec (one py4j round-trip via repr + CAST-from-string) must
    produce the exact IEEE doubles F.lit would: repr(float) is Python's
    shortest round-trip decimal and Java's Double.parseDouble returns the
    nearest double, which for a shortest-repr string is the original."""
    import struct

    from pyspark.sql import functions as F

    from tsdisagg_spark.operators.similarity import _const_vec, _plane_literals

    rng = np.random.default_rng(20260817)
    vals = (
        list(rng.standard_normal(64))  # unrounded, like trained centroids
        + _plane_literals(8, 2, seed=7)[0]  # rounded plane literals
        + [0.1, -0.0, 1e-300, -1e300, 2**-1074, 1 / 3, 123456789.123456789]
    )
    df = spark.range(1).select(
        _const_vec(vals).alias("fast"),
        F.array(*[F.lit(float(v)) for v in vals]).alias("ref"),
    )
    row = df.collect()[0]
    fast_bits = [struct.pack("<d", v) for v in row["fast"]]
    ref_bits = [struct.pack("<d", v) for v in row["ref"]]
    assert fast_bits == ref_bits
