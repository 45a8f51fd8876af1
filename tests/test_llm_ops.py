"""LLM-pipeline operator semantics on hand-built data: known duplicates
must be found, known non-duplicates must not."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from moloch_spark.operators import dedup as D
from moloch_spark.operators import multimodal as M
from moloch_spark.operators import similarity as S
from moloch_spark.operators import text as TX

BASE = "the quick brown fox jumps over the lazy dog again and again today"
NEAR = "the quick brown fox jumps over the lazy dog again and again tomorrow"
OTHER = "completely different content about database engines and query plans here"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE, "en", "s", len(BASE)),
        (2, BASE, "en", "s", len(BASE)),          # exact dup of 1
        (3, NEAR, "en", "s", len(NEAR)),          # near dup of 1
        (4, OTHER, "en", "s", len(OTHER)),
        (5, "kurz und nicht der die das gut", "de", "s", 30),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"]).cache()


def test_dedup_exact(docs):
    out = {r.digest: (r.keep_id, r.dup_count) for r in D.dedup_exact(docs).collect()}
    assert (1, 2) in out.values()  # docs 1+2 collapse, keep min id
    assert sum(c for _, c in out.values()) == 5


def test_minhash_identical_docs_identical_sigs(docs):
    sigs = {r.doc_id: tuple(r)[1:] for r in D.minhash_signatures(docs).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[4]


def test_lsh_finds_near_dups(docs):
    pairs = {(r.doc_a, r.doc_b) for r in D.lsh_candidate_pairs(docs).collect()}
    assert (1, 2) in pairs                      # exact dup always collides
    assert (1, 3) in pairs or (2, 3) in pairs   # near dup shares most shingles
    assert (1, 4) not in pairs and (2, 4) not in pairs


def test_simhash_close_for_near_dups(docs):
    sh = {r.doc_id: r.simhash for r in D.simhash(docs).collect()}
    assert sh[1] == sh[2]
    # hamming distance in nibbles between near-dups < vs unrelated
    def ham(a, b):
        return sum(
            bin(int(x, 16) ^ int(y, 16)).count("1") for x, y in zip(a, b)
        )
    assert ham(sh[1], sh[3]) <= ham(sh[1], sh[4])


def test_ngram_jaccard(docs):
    out = {
        (r.qid, r.did): r.jaccard
        for r in D.ngram_jaccard(docs, query_max_id=2, threshold=0.2).collect()
    }
    assert out[(1, 2)] == 1.0                   # identical -> J=1
    assert 0.2 <= out[(1, 3)] < 1.0             # near dup above threshold
    assert (1, 4) not in out                    # unrelated below threshold


@pytest.fixture(scope="module")
def emb(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.999, 0.01, 0.0, 0.0], 0),   # near-dup of 0
        (2, [0.0, 1.0, 0.0, 0.0], 1),
        (3, [0.0, 0.0, 1.0, 0.0], 2),
        (4, [0.7, 0.7, 0.0, 0.0], 0),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int").cache()


def test_embedding_near_dups(emb):
    out = {(r.qid, r.did): r.cosine for r in D.embedding_near_dups(emb, query_max_id=1).collect()}
    assert (0, 1) in out and out[(0, 1)] > 0.99
    assert (0, 2) not in out


def test_brute_force_topk_order(emb):
    out = S.brute_force_topk(emb, query_max_id=1, k=3).collect()
    ranked = [(r.rank, r.did) for r in sorted(out, key=lambda r: r.rank)]
    assert ranked[0] == (1, 1)  # closest is the near-dup
    assert ranked[1][1] == 4    # then the 45-degree vector


def test_lsh_ann_subset_of_bruteforce(emb):
    # LSH candidates within the same bucket must rank identically to the
    # brute-force order restricted to that candidate set
    lsh = {(r.qid, r.did) for r in S.lsh_bucket_topk(emb, query_max_id=1, k=5, dim=4).collect()}
    brute = {(r.qid, r.did) for r in S.brute_force_topk(emb, query_max_id=1, k=5).collect()}
    assert lsh <= brute or len(lsh) <= len(brute)


def test_text_stats_values(docs):
    r = {x.doc_id: x for x in TX.text_stats(docs).collect()}
    assert r[1].n_tokens == 13
    assert r[1].n_chars_calc == len(BASE)
    assert r[1].quality_score == 1.0            # in-range everything, no punct
    assert r[5].stopword_ratio > 0


def test_lang_id(docs):
    r = {x.doc_id: x.lang_pred for x in TX.lang_id(docs).collect()}
    assert r[1] == "en"
    assert r[5] == "de"


def test_token_counts(docs):
    r = {x.doc_id: x for x in TX.token_counts(docs).collect()}
    assert r[1].ws_tokens == 13
    assert r[1].bpe_tokens == 13                # no punctuation/digits


def test_fingerprint_dups_match(docs):
    r = {x.doc_id: x.fingerprint for x in TX.fingerprint(docs).collect()}
    assert r[1] == r[2]
    assert r[1] != r[4]
    assert r[5] is not None


def test_multimodal_plumbing(docs):
    media = M.documents_as_media(docs)
    feats = {r.media_id: r for r in M.extract_features(media).collect()}
    assert feats[1].byte_len == len(BASE.encode())
    assert feats[1].digest == __import__("hashlib").md5(BASE.encode()).hexdigest()
    # raw text bytes are not an image container
    assert feats[1].format is None and feats[1].width is None
    # non-image media flows through the real resize with NULL outputs
    r = {x.media_id: x for x in M.resize_images(media, 224, 224).collect()}
    assert r[1].format is None and r[1].data is None


def _png(w: int, h: int) -> bytes:
    import struct as s

    return (
        b"\x89PNG\r\n\x1a\n" + s.pack(">I", 13) + b"IHDR"
        + s.pack(">II", w, h) + b"\x08\x02\x00\x00\x00" + b"\x00" * 4
    )


def test_image_header_decode():
    import struct as s

    assert M.decode_image_header(_png(640, 480)) == ("png", 640, 480)
    assert M.decode_image_header(
        b"GIF89a" + s.pack("<HH", 320, 200) + b"\x00" * 3
    ) == ("gif", 320, 200)
    bmp = b"BM" + b"\x00" * 16 + s.pack("<ii", 100, -200) + b"\x00" * 8
    assert M.decode_image_header(bmp) == ("bmp", 100, 200)  # top-down abs()
    # JPEG: SOI, APP0 (16 bytes), SOF0 with dims
    jpeg = (
        b"\xff\xd8"
        + b"\xff\xe0" + s.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
        + b"\xff\xc0" + s.pack(">H", 11) + b"\x08" + s.pack(">HH", 333, 444)
        + b"\x03" + b"\x00" * 3
    )
    assert M.decode_image_header(jpeg) == ("jpeg", 444, 333)
    assert M.decode_image_header(b"not an image") == (None, None, None)
    assert M.decode_image_header(b"") == (None, None, None)
    assert M.decode_image_header(b"\x89PNG\r\n\x1a\n\x00") == (None, None, None)


def test_resize_plan_geometry(spark):
    rows = [(1, "image", _png(1000, 500), None), (2, "image", _png(100, 50), None)]
    media = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    out = {r.media_id: r for r in M.resize_plan(media, 224, 224).collect()}
    assert (out[1].target_width, out[1].target_height) == (224, 112)
    assert (out[2].target_width, out[2].target_height) == (100, 50)  # never upscale
    assert out[2].scale == 1.0


def test_ivf_assign_and_recall(emb):
    cents = S.ivf_centroids(4, 4)
    assigned = S.ivf_assign(emb, cents, vec_col="embedding")
    cells = {r.vec_id: r.cell for r in assigned.collect()}
    # every vector lands in exactly one valid cell
    assert set(cells.values()) <= set(range(4))

    # probing ALL cells must equal brute force exactly (recall = 1)
    bf = {(r.qid, r.rank): r.did for r in S.brute_force_topk(emb, k=5).collect()}
    ivf = {
        (r.qid, r.rank): r.did
        for r in S.ann_ivf_topk(
            emb, k=5, n_cells=4, nprobe=4, dim=4, centroids=cents
        ).collect()
    }
    assert ivf == bf


def test_ivf_probe_subset(emb):
    # with fewer probes, results are a subset of candidates whose cell is
    # probed — never an invented neighbor
    cents = S.ivf_centroids(4, 4)
    assigned = {r.vec_id: r.cell for r in S.ivf_assign(emb, cents).collect()}
    vecs = {r.vec_id: list(r.embedding) for r in emb.collect()}

    def probes(v, nprobe):  # same ranking as _cell_scores, python-side
        s = [
            (round(sum(x * x for x in c) - 2 * sum(a * b for a, b in zip(v, c)), 6), i)
            for i, c in enumerate(cents)
        ]
        return {i for _, i in sorted(s)[:nprobe]}

    out = S.ann_ivf_topk(emb, k=5, n_cells=4, nprobe=1, dim=4, centroids=cents)
    for r in out.collect():
        assert assigned[r.did] in probes(vecs[r.qid], 1)  # did's cell was probed
        assert r.qid != r.did


def test_kmeans_train_matches_numpy(spark):
    import numpy as np

    rng = [
        [float(((i * 37 + j * 11) % 19) - 9) for j in range(4)] for i in range(40)
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(rng)], ["vec_id", "embedding"]
    )
    got = S.kmeans_train(df, n_cells=3, iters=4, dim=4)

    # independent numpy Lloyd's with the same deterministic init/tie rules
    cents = np.array(S.ivf_centroids(4, 3))
    X = np.array(rng)
    for _ in range(4):
        d = ((cents**2).sum(1)[None, :] - 2 * X @ cents.T).round(6)
        cell = d.argmin(1)  # argmin takes first (lowest id) on ties
        for c in range(3):
            if (cell == c).any():
                cents[c] = X[cell == c].mean(0)
    assert np.allclose(np.array(got), cents, atol=1e-9)


def test_decontaminate_semantics(spark):
    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely unrelated content about spark plans"),
            (3, "shares the quick brown fox jumps phrase partially"),
        ],
        "doc_id int, text string",
    )
    test = spark.createDataFrame(
        [(100, "benchmark says the quick brown fox jumps high")],
        "doc_id int, text string",
    )
    clean, flagged = D.decontaminate(train, test, n=5)
    assert {r.doc_id for r in flagged.collect()} == {1, 3}
    assert {r.doc_id for r in clean.collect()} == {2}
    # n larger than any overlap -> nothing flagged
    clean2, flagged2 = D.decontaminate(train, test, n=9)
    assert flagged2.count() == 0 and clean2.count() == 3


def test_pii_scan(spark):
    rows = [
        (1, "contact alice@example.com or bob@test.org from 10.0.0.1"),
        (2, "ssn-ish 123456789 and card 4111111111111111"),
        (3, "nothing sensitive here"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r.doc_id: r for r in TX.pii_scan(df).collect()}
    assert out[1].n_emails == 2 and out[1].n_ipv4 == 1
    assert "<EMAIL>" in out[1].redacted and "alice" not in out[1].redacted
    assert out[2].n_long_digits == 2
    assert (out[3].n_emails, out[3].n_ipv4, out[3].n_long_digits) == (0, 0, 0)


def test_c4_filters(spark):
    """Every published C4 rule (Raffel et al. 2020 §2.2) on a handcrafted
    doc set: terminal punctuation, >=5 words, javascript lines, lorem
    ipsum pages, brace pages, >=3 surviving lines."""
    good = "this line has five words."
    rows = [
        (1, f"{good}\n{good}\n{good}"),                      # clean page
        (2, f"{good}\nno terminal punctuation here\n{good}\n{good}"),
        (3, f"{good}\nfour words only here.\n{good}\n{good}"),
        (4, f"{good}\nenable JavaScript to continue viewing.\n{good}\n{good}"),
        (5, f"{good}\n{good}"),                              # only 2 kept
        (6, f"{good}\n{good}\n{good}\nsome lorem ipsum filler text."),
        (7, f"{good}\n{good}\n{good}\nvar x = {{ a: 1 }};"),
        (8, 'he said "stop right there now."\nshe answered with five words?\n'
            "they left after five words!"),                  # ?, !, " terminals
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r.doc_id: r for r in TX.c4_filters(df).collect()}
    assert out[1].keep and out[1].n_kept == 3 and out[1].cleaned.count("\n") == 2
    assert out[2].n_kept == 3 and out[2].keep          # bad line dropped
    assert "no terminal" not in out[2].cleaned
    assert out[3].n_kept == 3 and "four words" not in out[3].cleaned
    assert out[4].n_kept == 3 and "JavaScript" not in out[4].cleaned
    assert out[5].n_kept == 2 and not out[5].keep      # < 3 kept lines
    assert out[6].has_lorem and not out[6].keep        # page-level kill
    assert out[7].has_brace and not out[7].keep
    assert out[8].keep and out[8].n_kept == 3          # all terminal variants


def test_repetition_signals(spark):
    rows = [
        (1, "line one\nline one\nline two"),        # 1/3 duplicate lines
        (2, "spam spam spam spam spam"),            # one 2-gram repeated
        (3, "all words are fully distinct here"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r.doc_id: r for r in TX.repetition_signals(df).collect()}
    assert out[1].n_lines == 3
    assert abs(out[1].dup_line_frac - (1 - 2 / 3)) < 1e-9
    assert out[2].top_2gram_frac == 1.0             # "spam spam" x4 / 4 grams
    assert out[3].dup_line_frac == 0.0
    assert out[3].top_2gram_frac <= 0.2


def test_resize_plan_nulls_for_non_images(spark):
    rows = [(1, "image", b"not an image at all", None)]
    media = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    r = M.resize_plan(media, 224, 224).first()
    assert r.scale is None and r.target_width is None and r.target_height is None


def test_gopher_quality_multiline(spark):
    rows = [
        (1, "- bullet one\n- bullet two\nnormal line."),
        (2, "trails off...\nand again...\nbut not here."),
        (3, " ".join(["word"] * 60) + "" + " ".join(["##"] * 20)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in TX.gopher_quality(df).collect()}
    assert abs(out[1].bullet_line_frac - 2 / 3) < 1e-12
    assert abs(out[2].ellipsis_line_frac - 2 / 3) < 1e-12
    # 20 '#' glyphs over 60 words (## tokens are dropped by the
    # alnum tokenizer) -> ratio 40/60 > 0.1 -> fails
    assert out[3].symbol_word_ratio > 0.1
    assert not out[3].passes_gopher


def test_char_entropy_known_values(spark):
    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "abab"), (3, "abcd"), (4, "")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.entropy_bits for r in TX.char_entropy(df).collect()}
    assert out[1] == 0.0      # degenerate
    assert out[2] == 1.0      # two symbols, uniform
    assert out[3] == 2.0      # four symbols, uniform
    assert out[4] == 0.0      # empty


def test_embedding_near_dup_pairs_corpus_wide(emb):
    """Corpus x corpus near-dup pairs (no broadcast side): the known
    near-dup pair collides in some LSH table and survives the cosine
    verify; orthogonal vectors never appear."""
    out = {(r.id_a, r.id_b): r.cosine
           for r in D.embedding_near_dup_pairs(emb, dim=4, threshold=0.9).collect()}
    assert (0, 1) in out and out[(0, 1)] > 0.99
    assert all(not {a, b} & {2, 3} or (a, b) == (2, 3) for a, b in out), out


def test_duplicate_spans_interval_union(spark):
    """Known geometry: doc 1 and 2 share one 5-token span (one dup
    position each); doc 3 repeats a 6-token run of doc 1 (two
    overlapping 5-gram positions -> union = 6 tokens, not 10); doc 4
    shares nothing."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta unique1 tail1 a b"),
        (2, "x1 x2 alpha beta gamma delta epsilon y1 y2 y3"),
        (3, "alpha beta gamma delta epsilon zeta z1 z2 z3 z4"),
        (4, "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in D.duplicate_spans(df, n=5).collect()}
    assert out[4].dup_positions == 0 and out[4].dup_tokens == 0
    # docs 1 and 3 share "alpha..zeta" (6 tokens = positions 0 and 1)
    assert out[1].dup_positions == 2 and out[1].dup_tokens == 6
    assert out[3].dup_positions == 2 and out[3].dup_tokens == 6
    # doc 2 shares only the 5-token "alpha..epsilon" (position 2)
    assert out[2].dup_positions == 1 and out[2].dup_tokens == 5
    assert out[2].total_tokens == 10 and abs(out[2].dup_fraction - 0.5) < 1e-9


def test_line_dedup_keep_first_corpus_wide(spark):
    """Footer repeats in all docs -> kept only in doc 1; the banner
    repeats within doc 3 -> second in-doc copy also dropped; empty
    lines dedup like any other line."""
    rows = [
        (1, "alpha\nfooter"),
        (2, "beta\nfooter"),
        (3, "banner\nbody3\nbanner\nfooter"),
        (4, "footer\nunique4"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in D.line_dedup(df).collect()}
    assert out[1].clean_text == "alpha\nfooter" and out[1].lines_kept == 2
    assert out[2].clean_text == "beta" and out[2].lines_kept == 1
    assert out[3].clean_text == "banner\nbody3" and out[3].lines_total == 4
    assert out[4].clean_text == "unique4"


def test_dsir_scores_rank_target_like_docs_higher(spark):
    """Docs drawn from the target vocabulary must outscore docs from a
    disjoint vocabulary, and the end-to-end keep flag must follow."""
    from moloch_spark.operators.importance import dsir_select

    target_like = "cat feline whiskers purr cat feline purr whiskers"
    off_topic = "gear piston torque diesel gear piston torque diesel"
    rows = [
        (1, target_like, "en"),
        (2, off_topic, "en"),
        (3, "cat feline purr gear", "de"),
        (4, off_topic, "de"),
    ]
    raw = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    target = raw.filter("doc_id = 1")  # pure target distribution
    out = {r.doc_id: r for r in dsir_select(raw, target).collect()}
    assert out[1].score > out[3].score > out[4].score
    # absolute keep threshold is only meaningful when corpus gram mass
    # >> alpha * n_buckets (true at corpus scale, not in a 4-doc toy) —
    # here just pin the flag's definition
    assert all(r.keep == (r.score >= 0) for r in out.values())
    assert out[2].score == out[4].score  # identical text, identical score


def test_dedup_incremental_flags_archive_collisions(spark):
    """New docs that near-duplicate an archived doc resolve to its id;
    genuinely new content comes back unique."""
    hist_rows = [
        (2, "the quick brown fox jumps over the lazy dog again and again"),
        (4, "completely different archived content about spark shuffles"),
    ]
    new_rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (3, "fresh unseen words about garbage collection tuning in java"),
    ]
    hist = spark.createDataFrame(hist_rows, "doc_id long, text string")
    new = spark.createDataFrame(new_rows, "doc_id long, text string")
    out = {r.doc_id: r for r in
           D.dedup_incremental(new, D.lsh_band_table(hist)).collect()}
    assert out[1].dup_of == 2 and not out[1].is_new_unique
    assert out[3].dup_of is None and out[3].is_new_unique


def test_curation_pipeline_first_fail_stages(spark):
    """Hand-built corpus where each stage claims a known doc: 1 kept,
    2 exact-prefix dup of 1, 3 near-dup of 1 (suffix differs past the
    prefix... no — distinct prefix, shared shingles), 4 too short, 5
    contaminated by the eval doc, 6 kept."""
    from moloch_spark.operators.pipeline import curation_pipeline

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon")
    rows = [
        (1, base + " phi chi psi omega one"),
        # same first-40-char prefix as doc 1 -> exact_dup
        (2, base + " phi chi psi omega two"),
        (4, "too short"),
        (6, "totally distinct vocabulary row six about engines " * 2),
    ]
    ev = "unique thirteen gram marker " + " ".join(f"w{i}" for i in range(13))
    rows.append((5, "padding words here then " + ev + " trailing tail words"))
    eval_rows = [(100, ev)]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    eval_docs = spark.createDataFrame(eval_rows, "doc_id long, text string")
    out = {r.doc_id: r.stage for r in
           curation_pipeline(corpus, eval_docs, min_words=5,
                             max_words=100).collect()}
    assert out[4] == "quality"
    assert out[1] == "kept" and out[2] == "exact_dup"
    assert out[5] == "contaminated"
    assert out[6] == "kept"


def test_rowlocal_band_table_equals_grouped(docs):
    """The stream-safe row-local MinHash must produce the exact same
    (id, band, bhash) rows as the explode+groupBy batch form."""
    a = {tuple(r) for r in D.lsh_band_table(docs).collect()}
    b = {tuple(r) for r in D.lsh_band_table_rowlocal(docs).collect()}
    assert a == b and len(a) > 0


def test_bigram_lm_hand_computed(spark):
    """Tiny corpus with hand-computable Stupid Backoff probabilities."""
    import math

    from moloch_spark.operators import lm

    train = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c")], ["doc_id", "text"]
    )
    # unigrams: a=3, b=3, c=1, N=7; bigrams (min_count=2): "a b"=3
    uni, bi = lm.train_bigram_lm(train, min_count=2)
    assert {tuple(r) for r in bi.collect()} == {("a b", 3)}
    u = {r.w: (r.cnt, r.total) for r in uni.collect()}
    assert u == {"a": (3, 7), "b": (3, 7), "c": (1, 7)}

    score = lm.perplexity(
        spark.createDataFrame([(9, "a b z")], ["doc_id", "text"]), uni, bi
    ).collect()[0]
    # "a b": 3/3 -> log10(1)=0 ; "b z": backoff 0.4 * 1/7 (z unseen floor)
    want = (0.0 + math.log10(0.4 / 7)) / 2
    assert score.n_bigrams == 2
    assert abs(score.avg_logprob - round(want, 4)) < 1e-9
    assert abs(score.log_ppl + score.avg_logprob) < 1e-9


def test_ppl_filter_prefers_in_domain(spark):
    """Docs resembling the training slice must score lower log-ppl than
    out-of-domain gibberish."""
    from moloch_spark.operators import lm

    rows = [(i, "the cat sat on the mat and the cat slept") for i in range(0, 8)]
    rows.append((100, "zq xv qj kk pp zz rr ww yy uu"))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r.doc_id: r.log_ppl
        for r in lm.ppl_filter(docs, docs.filter(F.col("doc_id") < 8)).collect()
    }
    assert out[0] < out[100]


def test_bm25_ranks_matching_doc_first(spark):
    from moloch_spark.operators import retrieval as R

    corpus = spark.createDataFrame(
        [
            (1, "spark query engine for large parquet scans"),
            (2, "spark engine"),
            (3, "cats and dogs and more cats"),
            (4, "the spark of an idea"),
        ],
        ["doc_id", "text"],
    )
    queries = spark.createDataFrame(
        [(99, "spark"), (99, "engine")], ["query_id", "qterm"]
    )
    out = R.bm25_topk(corpus, queries, k=3).collect()
    ranked = [r.doc_id for r in sorted(out, key=lambda r: r.rank)]
    # doc 2 matches both rare-ish terms with the shortest length -> first;
    # doc 3 matches nothing -> absent
    assert ranked[0] == 2
    assert 3 not in ranked
    assert [r.rank for r in sorted(out, key=lambda r: r.rank)] == [1, 2, 3]


def test_bm25_excludes_self_and_breaks_ties_by_id(spark):
    from moloch_spark.operators import retrieval as R

    corpus = spark.createDataFrame(
        [(0, "alpha beta"), (5, "alpha beta"), (7, "alpha beta")],
        ["doc_id", "text"],
    )
    q = R.corpus_queries(corpus, modulus=41)  # doc 0 becomes the query
    out = R.bm25_topk(corpus, q, k=10).collect()
    assert all(r.doc_id != 0 for r in out)          # self excluded
    assert [r.doc_id for r in sorted(out, key=lambda r: r.rank)] == [5, 7]
    assert out[0].score == out[1].score             # identical docs tie


def test_bm25_indexed_matches_direct_and_bucket_prunes(spark, tmp_path):
    """The durable term-bucketed index must return EXACTLY what the
    direct corpus-scan path returns, and the query plan must
    bucket-prune the postings scan to the query terms' buckets."""
    from moloch_spark.operators import retrieval as R

    rows = [(i, f"term{i % 40} filler{i} alpha beta common words here")
            for i in range(200)]
    corpus = spark.createDataFrame(rows, ["doc_id", "text"])
    queries = spark.createDataFrame(
        [(900, "term7"), (900, "alpha"), (901, "term13")],
        ["query_id", "qterm"],
    )
    prefix = "bm25idx_test_prune"
    try:
        R.build_bm25_index(
            spark, corpus, prefix, str(tmp_path / "idx"), buckets=16
        )
        direct = R.bm25_topk(corpus, queries, exclude_self=False)
        indexed = R.bm25_topk_indexed(
            spark, prefix, queries, exclude_self=False
        )
        assert sorted(map(tuple, direct.collect())) == sorted(
            map(tuple, indexed.collect())
        )
        plan = indexed._jdf.queryExecution().executedPlan().toString()
        import re

        m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
        assert m, "postings scan is not bucket-pruned"
        assert int(m.group(1)) < int(m.group(2))
    finally:
        for t in ("postings", "dl", "stats"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")


def test_bm25_index_append_equals_rebuild(spark, tmp_path):
    """build(half) + append(half) must serve the same results as
    build(all): postings/dl appended in-place (bucket layout intact),
    stats rewritten, document frequencies derived at query time."""
    from pyspark.sql import functions as F

    from moloch_spark.operators import retrieval as R

    rows = [(i, f"alpha term{i % 20} beta gamma shared words body {i}")
            for i in range(120)]
    corpus = spark.createDataFrame(rows, ["doc_id", "text"])
    queries = spark.createDataFrame(
        [(500, "alpha"), (500, "term3"), (501, "term11"), (501, "beta")],
        ["query_id", "qterm"],
    )
    pa, pb = "bm25idx_test_app_a", "bm25idx_test_app_b"
    try:
        R.build_bm25_index(spark, corpus, pa, str(tmp_path / "a"), buckets=8)
        R.build_bm25_index(
            spark,
            corpus.filter(F.col("doc_id") < 60),
            pb,
            str(tmp_path / "b"),
            buckets=8,
        )
        R.append_bm25_index(
            spark, corpus.filter(F.col("doc_id") >= 60), pb, buckets=8
        )
        full = R.bm25_topk_indexed(spark, pa, queries, exclude_self=False)
        appended = R.bm25_topk_indexed(spark, pb, queries, exclude_self=False)
        assert sorted(map(tuple, full.collect())) == sorted(
            map(tuple, appended.collect())
        )
        # stats reflect the whole corpus after the append
        sa = spark.table(f"{pa}_stats").first()
        sb = spark.table(f"{pb}_stats").first()
        assert sa["n_docs"] == sb["n_docs"] == 120
        assert abs(sa["avgdl"] - sb["avgdl"]) < 1e-12
    finally:
        for p in (pa, pb):
            for t in ("postings", "dl", "stats"):
                spark.sql(f"DROP TABLE IF EXISTS {p}_{t}")


def test_bm25_append_to_index_without_dl_requires_rebuild(spark, tmp_path):
    """Postings written before they carried dl cannot take appends of
    the (doc, term, tf, dl) shape: append_bm25_index says to rebuild
    instead of failing inside saveAsTable."""
    from moloch_spark.operators import retrieval as R

    prefix = "bm25idx_test_legacy"
    corpus = spark.createDataFrame([(1, "alpha beta"), (2, "beta gamma")], ["doc_id", "text"])
    try:
        spark.createDataFrame([(1, "alpha", 1)], "doc_id long, term string, tf long").write.format(
            "parquet"
        ).bucketBy(8, "term").sortBy("term").option("path", str(tmp_path / "post")).saveAsTable(
            f"{prefix}_postings"
        )
        with pytest.raises(ValueError, match="rebuild required"):
            R.append_bm25_index(spark, corpus, prefix, buckets=8)
        assert spark.table(f"{prefix}_postings").count() == 1
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_postings")


def test_bm25_index_append_stream_equals_rebuild(spark, tmp_path):
    """Continuous maintenance: new crawl batches arriving THROUGH
    Structured Streaming (foreachBatch -> append_bm25_index, one file
    per micro-batch) must leave the index serving exactly what a
    one-shot build over the whole corpus serves."""
    from pyspark.sql import functions as F

    from moloch_spark.operators import retrieval as R

    rows = [(i, f"alpha term{i % 20} beta gamma shared words body {i}")
            for i in range(120)]
    corpus = spark.createDataFrame(rows, ["doc_id", "text"])
    queries = spark.createDataFrame(
        [(500, "alpha"), (500, "term3"), (501, "term11"), (501, "beta")],
        ["query_id", "qterm"],
    )
    pa, pb = "bm25idx_test_str_a", "bm25idx_test_str_b"
    inbox = str(tmp_path / "inbox")
    # stage the "new crawl" as 3 files -> 3 micro-batches
    for lo, hi in ((60, 80), (80, 100), (100, 120)):
        corpus.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        ).coalesce(1).write.mode("append").parquet(inbox)
    try:
        R.build_bm25_index(spark, corpus, pa, str(tmp_path / "a"), buckets=8)
        R.build_bm25_index(
            spark,
            corpus.filter(F.col("doc_id") < 60),
            pb,
            str(tmp_path / "b"),
            buckets=8,
        )
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(inbox)
        )
        q = (
            R.append_bm25_index_stream(
                spark, stream, pb, str(tmp_path / "ckpt"), buckets=8
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert q.lastProgress is None or q.lastProgress["batchId"] >= 2
        full = R.bm25_topk_indexed(spark, pa, queries, exclude_self=False)
        streamed = R.bm25_topk_indexed(spark, pb, queries, exclude_self=False)
        assert sorted(map(tuple, full.collect())) == sorted(
            map(tuple, streamed.collect())
        )
        assert spark.table(f"{pb}_stats").first()["n_docs"] == 120
    finally:
        for p in (pa, pb):
            for t in ("postings", "dl", "stats"):
                spark.sql(f"DROP TABLE IF EXISTS {p}_{t}")


def test_quality_classifier_matches_reference_math(spark):
    """Distributed full-batch LR must track the plain-Python reference
    on the same features. Tolerances: iteration 1 is EXACT; later
    iterations drift because Adagrad divides by sqrt(gsq) — a bucket
    whose first gradient nearly cancels (~1e-10) amplifies distributed
    FP-reordering noise (~1e-17) by 1e7 per round, so equality is
    chaotic-sensitive while the trajectory stays the same."""
    from moloch_spark.operators import classifier as C

    pos = spark.createDataFrame(
        [(i, "clean prose about science and history") for i in range(4)],
        ["doc_id", "text"],
    )
    neg = spark.createDataFrame(
        [(10 + i, "buy now click here cheap pills") for i in range(4)],
        ["doc_id", "text"],
    )
    w1, b1 = C.train_quality_classifier(pos, neg, iterations=1, lr=0.5)
    w, b = C.train_quality_classifier(pos, neg, iterations=4, lr=0.5)

    # rebuild the identical sparse features driver-side
    feats = C._doc_features(
        pos.unionByName(neg), text_col="text", id_col="doc_id",
        n_buckets=C.DEFAULT_BUCKETS, seed="qlr:v1",
    ).collect()
    by_doc: dict[int, list] = {}
    for r in feats:
        by_doc.setdefault(r.doc_id, []).append((r.bucket, r.x))
    ex = [(v, 1.0 if k < 10 else 0.0) for k, v in sorted(by_doc.items())]
    rw1, rb1 = C.reference_train(ex, iterations=1, lr=0.5)
    assert abs(b1 - rb1) < 1e-12 and set(w1) == set(rw1)
    assert all(abs(w1[k] - rw1[k]) < 1e-12 for k in w1)
    rw, rb = C.reference_train(ex, iterations=4, lr=0.5)
    assert abs(b - rb) < 0.01
    assert set(w) == set(rw)
    assert all(abs(w[k] - rw[k]) < 0.01 for k in w)
    # direction of every learned weight agrees
    assert all(w[k] * rw[k] >= 0 for k in w if abs(rw[k]) > 1e-3)


def test_quality_filter_bounded_negatives(spark):
    """max_negatives below the pool size must (a) still score EVERY
    corpus document, (b) train on a deterministic hash slice — two runs
    produce identical scores — and (c) still separate the domains."""
    from moloch_spark.operators import classifier as C

    rows = [(i, "the study of planetary motion and careful measurement") for i in range(4)]
    rows += [(100 + i, "winner winner free free casino jackpot now") for i in range(20)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    ref = docs.filter(F.col("doc_id") < 4)
    a = {r.doc_id: (r.quality, r.keep)
         for r in C.quality_filter(docs, ref, max_negatives=8).collect()}
    b = {r.doc_id: (r.quality, r.keep)
         for r in C.quality_filter(docs, ref, max_negatives=8).collect()}
    assert a == b                                   # deterministic sample
    assert set(a) == {r[0] for r in rows}           # whole corpus scored
    assert a[0][0] > a[100][0]
    assert a[0][1] and not a[100][1]


def test_quality_filter_separates_domains(spark):
    from moloch_spark.operators import classifier as C

    rows = [(i, "the study of planetary motion and careful measurement") for i in range(6)]
    rows += [(100 + i, "winner winner free free casino jackpot now") for i in range(6)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r.doc_id: (r.quality, r.keep)
        for r in C.quality_filter(docs, docs.filter(F.col("doc_id") < 6)).collect()
    }
    assert out[0][0] > out[100][0]
    assert out[0][1] and not out[100][1]


def test_quality_filter_scores_gramless_docs(spark):
    """ADVICE r4: a doc whose text yields zero grams must still appear
    in the output — on BOTH the sampled and non-sampled paths — scored
    at the model's prior, sigmoid(bias)."""
    import math

    from moloch_spark.operators import classifier as C

    rows = [(i, "the study of planetary motion and careful measurement")
            for i in range(4)]
    rows += [(100 + i, "winner winner free free casino jackpot now")
             for i in range(12)]
    rows += [(900, ""), (901, "   ")]               # gram-less
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    ref = docs.filter(F.col("doc_id") < 4)
    for kwargs in ({"max_negatives": 8}, {"max_negatives": None}):
        out = {r.doc_id: r.quality
               for r in C.quality_filter(docs, ref, **kwargs).collect()}
        assert set(out) == {r[0] for r in rows}, kwargs
        # both gram-less docs score exactly the prior
        assert out[900] == out[901]
        # the prior is sigmoid(bias): between the two domain extremes
        assert min(out.values()) <= out[900] <= max(out.values())

    # and score_quality directly (the sampled path's scorer)
    w, b = C.train_quality_classifier(
        ref, docs.filter(F.col("doc_id") >= 100).filter(F.col("doc_id") < 200)
    )
    sq = {r.doc_id: r.quality for r in C.score_quality(docs, w, b).collect()}
    assert set(sq) == {r[0] for r in rows}
    assert sq[900] == round(1.0 / (1.0 + math.exp(-b)), 4)


def test_ppl_lang_buckets_thirds(spark):
    """Per-language thirds must be computed within each language."""
    from moloch_spark.operators import lm

    rows = [(i, "a b " * (i + 2), "en") for i in range(6)]
    rows += [(100 + i, "c d " * (i + 2), "de") for i in range(3)]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    uni, bi = lm.train_bigram_lm(docs, min_count=1)
    out = lm.ppl_lang_buckets(docs, uni, bi).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r.lang, []).append(r.ppl_bucket)
    assert sorted(by_lang["en"]) == ["head", "head", "middle", "middle", "tail", "tail"]
    assert sorted(by_lang["de"]) == ["head", "middle", "tail"]


def test_ccnet_pipeline_unscored_path(spark):
    """A doc whose cleaned text drops below 2 tokens must come back
    'unscored' with NULL rank, not vanish."""
    from moloch_spark.operators.pipeline import ccnet_pipeline

    rows = [
        (0, "shared line\nthe cat sat on the mat", "en"),
        (1, "shared line\nthe cat ran over the hill", "en"),
        (2, "shared line\nonly", "en"),   # after dedup: 'only' -> 1 token
        (7, "shared line\nder hund und die katze sind gut", "de"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = {r.doc_id: r for r in ccnet_pipeline(docs).collect()}
    assert len(out) == 4
    assert out[2].ppl_bucket == "unscored" and out[2].lang_rank is None
    assert out[0].lines_kept == 2 and out[1].lines_kept == 1  # shared line kept once... see below
    # doc 0 keeps 'shared line' (first occurrence) + its body; doc 1
    # keeps only its body
    assert out[0].lines_total == 2 and out[1].lines_total == 2
    assert out[7].lang_pred == "de"


def test_rrf_fusion_math(spark):
    """Fused score must be exactly sum of 1/(60+rank); docs on both
    lists beat docs on one list at similar ranks."""
    from moloch_spark.operators import retrieval as R

    a = spark.createDataFrame(
        [(1, 1, 10), (1, 2, 11), (1, 3, 12)], ["query_id", "rank", "doc_id"]
    )
    b = spark.createDataFrame(
        [(1, 1, 11), (1, 2, 13)], ["query_id", "rank", "doc_id"]
    )
    out = {r.doc_id: (r.rank, r.rrf) for r in R.rrf_fuse([a, b]).collect()}
    assert out[11][0] == 1  # on both lists -> fused first
    assert abs(out[11][1] - round(1 / 62 + 1 / 61, 6)) < 1e-12
    assert abs(out[10][1] - round(1 / 61, 6)) < 1e-12
    assert set(out) == {10, 11, 12, 13}


def test_remove_duplicate_spans_semantics(spark):
    """A span repeated across docs is cut from BOTH docs; coverage of
    overlapping hits unions; unique text survives untouched."""
    from moloch_spark.operators import dedup as DD

    span = "one two three four five"
    rows = [
        (1, f"alpha {span} beta"),
        (2, f"gamma {span} delta"),
        (3, "totally unique words here without repeats"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in DD.remove_duplicate_spans(docs, n=5).collect()}
    assert out[3].clean_text == "totally unique words here without repeats"
    assert out[3].tokens_after == out[3].tokens_before == 6
    # docs 1/2: every 5-gram containing the span tokens repeats?
    # the shared 5-gram is exactly `span`; its coverage removes those
    # 5 tokens from both docs, leaving the unique framing words
    assert out[1].clean_text == "alpha beta"
    assert out[2].clean_text == "gamma delta"


def test_semdedup_prune_groups_and_cells(emb):
    # sign-bit cells (6 bits; bits past the 4-dim vectors read unset):
    # vec 1 [0.999,0.01,..] and vec 4 [0.7,0.7,..] share cell 110000=48
    # and cosine ~0.714 >= 0.3, so they form one group kept at min id 1;
    # vec 0 lands in cell 32 (its second coord is exactly 0 -> bit
    # unset), demonstrating the standard LSH miss: a near-dup split
    # across cells is not merged.
    out = {r.vec_id: r for r in D.semdedup_prune(emb).collect()}
    assert out[1].cell == 48 and out[4].cell == 48
    assert out[0].cell == 32
    assert out[4].root_id == 1 and not out[4].keep
    assert out[1].keep and out[0].keep and out[2].keep and out[3].keep
    # raising the threshold above the (1,4) cosine keeps everything
    strict = {r.vec_id: r.keep for r in D.semdedup_prune(emb, threshold=0.8).collect()}
    assert all(strict.values())


def test_chunk_documents_windows(spark):
    rows = [(1, "aa bb cc dd ee"), (2, ""), (3, "xx")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = sorted(
        (r.doc_id, r.chunk_seq, r.n_tokens, r.chunk_text)
        for r in TX.chunk_documents(df, chunk_tokens=3, stride=2).collect()
    )
    assert out == [
        (1, 0, 3, "aa bb cc"),
        (1, 1, 3, "cc dd ee"),
        (1, 2, 1, "ee"),
        (3, 0, 1, "xx"),
    ]  # overlap at stride<chunk, short tail, empty doc emits nothing


def test_cms_sketch_guarantee_and_merge(spark):
    from moloch_spark.operators import sketch as SK

    rows = [(i, "alpha beta gamma delta " * (i + 1)) for i in range(6)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    grams = df.select(F.explode(TX.word_ngrams(TX.tokens("text"), 2)).alias("gram"))
    exact = {r.gram: r.c for r in grams.groupBy("gram").agg(F.count(F.lit(1)).alias("c")).collect()}

    # one-sided guarantee at a tiny width (collisions certain)
    sk = SK.cms_build(df, n=2, depth=3, width=8)
    est = {r.gram: r.est_cnt for r in SK.cms_estimate(sk, grams.distinct(), depth=3, width=8).collect()}
    assert set(est) == set(exact)
    assert all(est[g] >= exact[g] for g in exact)

    # wide sketch: no collisions -> estimates exact
    skw = SK.cms_build(df, n=2, depth=3, width=4096)
    estw = {r.gram: r.est_cnt for r in SK.cms_estimate(skw, grams.distinct(), depth=3, width=4096).collect()}
    assert estw == exact

    # linearity: sketch(half1) + sketch(half2) == sketch(all)
    h1 = SK.cms_build(df.filter(F.col("doc_id") < 3), n=2, depth=3, width=8)
    h2 = SK.cms_build(df.filter(F.col("doc_id") >= 3), n=2, depth=3, width=8)
    merged = {(r.row, r.bucket): r.cnt for r in SK.cms_merge(h1, h2).collect()}
    whole = {(r.row, r.bucket): r.cnt for r in sk.collect()}
    assert merged == whole


def test_bm25_stream_fold_replay_is_skipped(spark, tmp_path):
    """foreachBatch re-delivers the last epoch when the checkpoint
    commit is lost after a completed fold; the epoch ledger must turn
    that replay into a no-op (exactly-once), while a genuinely new
    epoch still folds."""
    from moloch_spark.operators import retrieval as R
    from moloch_spark.streaming import ledger

    corpus = spark.createDataFrame(
        [(i, f"alpha shared term{i % 7} body {i}") for i in range(40)],
        ["doc_id", "text"],
    )
    prefix, ckpt = "bm25idx_test_ledger", str(tmp_path / "ckpt")
    try:
        R.build_bm25_index(
            spark, corpus.filter("doc_id < 20"), prefix,
            str(tmp_path / "t"), buckets=8,
        )
        fold = R.bm25_stream_fold(spark, prefix, ckpt, buckets=8)
        b1 = corpus.filter("doc_id >= 20 and doc_id < 30")
        fold(b1, 0)
        n_post = spark.table(f"{prefix}_postings").count()
        assert spark.table(f"{prefix}_dl").count() == 30
        assert ledger.committed_epoch(ckpt, prefix) == 0
        # the replay: same epoch id again -> nothing changes
        fold(b1, 0)
        assert spark.table(f"{prefix}_postings").count() == n_post
        assert spark.table(f"{prefix}_dl").count() == 30
        # a NEW epoch still folds and advances the ledger
        fold(corpus.filter("doc_id >= 30"), 1)
        assert spark.table(f"{prefix}_dl").count() == 40
        assert spark.table(f"{prefix}_stats").first()["n_docs"] == 40
        assert ledger.committed_epoch(ckpt, prefix) == 1
        # a restarted stream consults the same ledger file
        fold2 = R.bm25_stream_fold(spark, prefix, ckpt, buckets=8)
        fold2(b1, 1)  # replay across restart
        assert spark.table(f"{prefix}_dl").count() == 40
    finally:
        for t in ("postings", "dl", "stats"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{t}")


def test_repair_bm25_index_restores_uniqueness(spark, tmp_path):
    """A crash inside a stream fold re-runs a partially committed
    epoch: simulate the worst case (the whole batch appended twice)
    and verify repair_bm25_index rewrites a fresh prefix that serves
    exactly what an uncorrupted one-shot build serves."""
    from moloch_spark.operators import retrieval as R

    corpus = spark.createDataFrame(
        [(i, f"alpha shared term{i % 7} body {i}") for i in range(40)],
        ["doc_id", "text"],
    )
    queries = spark.createDataFrame(
        [(900, "alpha"), (900, "term3"), (901, "shared")],
        ["query_id", "qterm"],
    )
    clean, dup, fixed = (
        "bm25idx_test_rp_clean", "bm25idx_test_rp_dup", "bm25idx_test_rp_fix"
    )
    try:
        R.build_bm25_index(spark, corpus, clean, str(tmp_path / "c"),
                           buckets=8)
        R.build_bm25_index(spark, corpus.filter("doc_id < 30"), dup,
                           str(tmp_path / "d"), buckets=8)
        batch = corpus.filter("doc_id >= 30")
        R.append_bm25_index(spark, batch, dup, buckets=8)
        R.append_bm25_index(spark, batch, dup, buckets=8)  # the replay
        assert spark.table(f"{dup}_dl").count() == 50  # corrupted
        R.repair_bm25_index(spark, dup, fixed, str(tmp_path / "f"),
                            buckets=8)
        assert spark.table(f"{fixed}_dl").count() == 40
        assert spark.table(f"{fixed}_stats").first()["n_docs"] == 40
        want = sorted(map(tuple, R.bm25_topk_indexed(
            spark, clean, queries, exclude_self=False).collect()))
        got = sorted(map(tuple, R.bm25_topk_indexed(
            spark, fixed, queries, exclude_self=False).collect()))
        assert got == want
    finally:
        for p in (clean, dup, fixed):
            for t in ("postings", "dl", "stats"):
                spark.sql(f"DROP TABLE IF EXISTS {p}_{t}")


def test_bm25_crash_inside_fold_recovery_story(spark, tmp_path):
    """The documented crash-inside-fold recovery, end-to-end: a fold
    dies BETWEEN the postings append and the dl append (the torn-middle
    shape — each table's parquet job is atomic but the pair is two
    jobs). The epoch was never recorded, so the restarted fold re-runs
    it (postings now duplicated, dl landed once), and repair_bm25_index
    restores an index that serves exactly what an uncorrupted one-shot
    build serves."""
    from pyspark.sql import functions as F

    from moloch_spark.operators import retrieval as R
    from moloch_spark.streaming import ledger

    corpus = spark.createDataFrame(
        [(i, f"alpha shared term{i % 7} body {i}") for i in range(40)],
        ["doc_id", "text"],
    )
    queries = spark.createDataFrame(
        [(900, "alpha"), (900, "term3"), (901, "shared")],
        ["query_id", "qterm"],
    )
    clean, broken, fixed = (
        "bm25idx_test_cr_clean", "bm25idx_test_cr_broken", "bm25idx_test_cr_fix"
    )
    ckpt = str(tmp_path / "ckpt")
    try:
        R.build_bm25_index(spark, corpus, clean, str(tmp_path / "c"),
                           buckets=8)
        R.build_bm25_index(spark, corpus.filter("doc_id < 30"), broken,
                           str(tmp_path / "b"), buckets=8)
        batch = corpus.filter("doc_id >= 30")
        # the crash: ONLY the postings append of the fold completes —
        # forged with the same denormalized (doc, term, tf, dl) rows
        # the real fold writes (retrieval._postings_with_dl)
        (
            R._postings_with_dl(batch, text_col="text", id_col="doc_id")
            .write.mode("append")
            .format("parquet")
            .bucketBy(8, "term")
            .sortBy("term")
            .saveAsTable(f"{broken}_postings")
        )
        assert ledger.committed_epoch(ckpt, broken) == -1  # never recorded
        # restart: the fold re-runs the SAME epoch in full
        fold = R.bm25_stream_fold(spark, broken, ckpt, buckets=8)
        fold(batch, 0)
        assert ledger.committed_epoch(ckpt, broken) == 0
        # torn state: batch postings twice, dl once, stats correct
        dup = spark.table(f"{broken}_postings").groupBy(
            "term", "doc_id"
        ).count().filter(F.col("count") > 1)
        assert dup.count() > 0
        assert spark.table(f"{broken}_dl").count() == 40
        # the repair restores key uniqueness and exact serving
        R.repair_bm25_index(spark, broken, fixed, str(tmp_path / "f"),
                            buckets=8)
        want = sorted(map(tuple, R.bm25_topk_indexed(
            spark, clean, queries, exclude_self=False).collect()))
        got = sorted(map(tuple, R.bm25_topk_indexed(
            spark, fixed, queries, exclude_self=False).collect()))
        assert got == want
        assert spark.table(f"{fixed}_stats").first()["n_docs"] == 40
    finally:
        for p in (clean, broken, fixed):
            for t in ("postings", "dl", "stats"):
                spark.sql(f"DROP TABLE IF EXISTS {p}_{t}")


def test_decontaminate_semantic_lsh_equivalent_and_no_cartesian(spark):
    """VERDICT r7 ask #6: the LSH-bucketed semantic decontamination for
    beyond-broadcast eval sets. On a planted near-dup fixture at a
    near-dup threshold it must agree with the broadcast path (flags
    everywhere; max cosine + nearest eval id on flagged rows — exact
    candidate cosines make false positives impossible by construction),
    and its plan must contain NO cartesian/broadcast-nested-loop join.
    The eval_broadcast_limit auto-switch routes oversized eval sets to
    the LSH path."""
    import numpy as np
    from moloch_spark.operators import dedup as D

    rng = np.random.RandomState(23)
    dim = 16
    train_rows = [(i, rng.randn(dim)) for i in range(200)]
    # eval = noisy near-copies of 10 train vectors (cos ~0.99) + 5
    # unrelated vectors that should flag nothing
    eval_rows = [
        (1000 + j, train_rows[j * 17][1] + rng.randn(dim) * 0.05)
        for j in range(10)
    ] + [(2000 + j, rng.randn(dim)) for j in range(5)]
    to_df = lambda rows: spark.createDataFrame(  # noqa: E731
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<double>",
    ).repartition(4)
    train, ev = to_df(train_rows), to_df(eval_rows)

    want = {
        r.vec_id: (r.contaminated, r.max_eval_cosine, r.nearest_eval_id)
        for r in D.decontaminate_semantic(
            train, ev, threshold=0.8
        ).collect()
    }
    lsh_df = D.decontaminate_semantic_lsh(train, ev, threshold=0.8, dim=dim)
    plan = lsh_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    got = {
        r.vec_id: (r.contaminated, r.max_eval_cosine, r.nearest_eval_id)
        for r in lsh_df.collect()
    }
    assert set(got) == set(want) == set(range(200))
    flagged = {i for i, v in want.items() if v[0]}
    assert flagged == {j * 17 for j in range(10)}      # the planted dups
    assert {i for i, v in got.items() if v[0]} == flagged
    for i in flagged:  # exact same winner + cosine on flagged rows
        assert got[i] == want[i], i

    # the auto-switch: a 15-row eval set over a 10-row limit routes to
    # the LSH path (plan shows the token equi-join, no nested loop)
    routed = D.decontaminate_semantic(
        train, ev, threshold=0.8, eval_broadcast_limit=10, dim=dim
    )
    rplan = routed._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in rplan
    assert {
        i for r in routed.collect() if r.contaminated for i in [r.vec_id]
    } == flagged
    # under the limit the broadcast path is kept
    kept = D.decontaminate_semantic(
        train, ev, threshold=0.8, eval_broadcast_limit=100, dim=dim
    )
    assert "BroadcastNestedLoopJoin" in (
        kept._jdf.queryExecution().executedPlan().toString()
    )


def test_decontaminate_semantic_row_universe_parity(spark):
    """ADVICE r8: both routes of decontaminate_semantic must emit the
    SAME row universe — every train id, with (NULL, NULL, false) when
    nothing scored against it. Pinned on the two shapes the broadcast
    path used to get wrong: an EMPTY eval set (used to return an empty
    frame) and a 1-row eval set sharing a train row's id (used to drop
    that train row)."""
    from moloch_spark.operators import dedup as D

    dim = 4
    train = spark.createDataFrame(
        [(i, [float(i + 1), 0.0, 0.0, 0.0]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    empty = train.filter("vec_id < 0")

    def rows(df):
        return {
            r.vec_id: (r.max_eval_cosine, r.nearest_eval_id, r.contaminated)
            for r in df.collect()
        }

    got = rows(D.decontaminate_semantic(train, empty, threshold=0.5))
    assert got == {i: (None, None, False) for i in range(6)}
    lsh = rows(
        D.decontaminate_semantic_lsh(train, empty, threshold=0.5, dim=dim)
    )
    assert lsh == got

    # eval = the single vector with vec_id 3: train row 3 is excluded
    # from scoring (self-id) but must still appear, unflagged
    one = train.filter("vec_id = 3")
    got1 = rows(D.decontaminate_semantic(train, one, threshold=0.5))
    assert set(got1) == set(range(6))
    assert got1[3] == (None, None, False)
    assert all(v[1] == 3 and v[2] for i, v in got1.items() if i != 3)


def test_shingle_explode_plan_and_rows(spark):
    """shingle_explode (r12): the generator input is the shingle
    EXPRESSION over a staged token attribute, so (a) the tokenizer
    appears exactly once in the plan — exploding a staged `shingles`
    attribute lets InferFiltersFromGenerate + pushdown re-inline the
    whole subtree as a size()>0 Filter (7 copies measured) — and (b)
    rows match the shingle_df + explode formulation exactly."""
    from pyspark.sql import functions as F

    from moloch_spark.operators.text import shingle_df, shingle_explode
    from moloch_spark.plans import formatted_plan

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x y"), (3, ""), (4, None)],
        ["doc_id", "text"],
    )
    out = shingle_explode(df, n=3, with_size="sz")
    plan = formatted_plan(out)
    assert plan.count("split(lower") == 1, plan
    legacy = (
        shingle_df(df, n=3)
        .select(
            "doc_id",
            F.size("shingles").cast("long").alias("sz"),
            F.explode("shingles").alias("shingle"),
        )
    )
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, legacy.collect())
    )


@pytest.mark.parametrize("staging", ["__toks", "__sh"])
def test_shingle_explode_rejects_staging_column_collision(spark, staging):
    from moloch_spark.operators.text import shingle_explode

    df = spark.createDataFrame([(1, "a b c d", "keep")], ["doc_id", "text", staging])
    with pytest.raises(ValueError, match=staging):
        shingle_explode(df, n=3)


def test_postings_carry_dl(spark):
    """_postings_with_dl (r12): the denormalized dl column equals the
    per-doc sum-of-tf the dl table holds, on every postings row — the
    invariant that lets every serve skip the doc-keyed dl join."""
    from pyspark.sql import functions as F

    from moloch_spark.operators import retrieval as R

    corpus = spark.createDataFrame(
        [(i, f"w{i % 3} shared body body {i}") for i in range(12)],
        ["doc_id", "text"],
    )
    post = R._postings_with_dl(corpus, text_col="text", id_col="doc_id")
    plain = R.postings(corpus)
    dl = plain.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    want = sorted(map(tuple, plain.join(dl, "doc_id").select(
        "doc_id", "term", "tf", "dl").collect()))
    got = sorted(map(tuple, post.select(
        "doc_id", "term", "tf", "dl").collect()))
    assert got == want
