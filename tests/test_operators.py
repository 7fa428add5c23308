"""North-star operators (dedup / similarity / text / multimodal) checked
against exact DuckDB oracle SQL on the documents/embeddings fixtures."""

import pytest
from pyspark.sql import functions as F

from coolplaydruid_spark.operators import dedup, multimodal, similarity, text
from tests.conftest import assert_df_matches_duck

# DuckDB mirror of text.tokens()
DUCK_TOKS = (
    "list_filter(string_split_regex(lower(trim(coalesce(text, ''))), '\\s+'), "
    "x -> x <> '')"
)


def test_token_count(engine, duck):
    df = text.token_count(engine.catalog.table("documents"))
    sql = f"""
    SELECT doc_id,
           CAST(len({DUCK_TOKS}) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(coalesce(text, ''),
                '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT) AS bpe_tokens
    FROM documents
    """
    assert_df_matches_duck(df, duck, sql)


def test_quality_score(engine, duck):
    df = text.quality_score(engine.catalog.table("documents"))
    sql = f"""
    WITH t AS (
      SELECT doc_id, coalesce(text, '') AS txt, {DUCK_TOKS} AS toks
      FROM documents
    ), m AS (
      SELECT doc_id,
             length(txt) AS n_chars,
             len(toks) AS n_tokens,
             length(txt) - length(regexp_replace(txt, '[!-/:-@\\[-`{{-~]', '', 'g')) AS punct,
             length(txt) - length(regexp_replace(txt, '[0-9]', '', 'g')) AS digits,
             len(list_filter(toks, x -> list_contains(
                 ['the','and','of','to','is','in','that','with'], x))) AS stop,
             CASE WHEN len(toks) > 0
                  THEN list_sum(list_transform(toks, x -> length(x))) ELSE 0 END AS tok_chars
      FROM t
    )
    SELECT doc_id,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           round(CASE WHEN n_chars > 0 THEN punct / n_chars ELSE 0 END, 6) AS punct_ratio,
           round(CASE WHEN n_chars > 0 THEN digits / n_chars ELSE 0 END, 6) AS digit_ratio,
           round(CASE WHEN n_tokens > 0 THEN stop / n_tokens ELSE 0 END, 6) AS stopword_ratio,
           round(CASE WHEN n_tokens > 0 THEN tok_chars / n_tokens ELSE 0 END, 6) AS mean_token_len,
           round(0.25 * least(n_chars / 500.0, 1.0)
               + 0.25 * (1 - CASE WHEN n_chars > 0 THEN punct / n_chars ELSE 0 END)
               + 0.25 * (1 - CASE WHEN n_chars > 0 THEN digits / n_chars ELSE 0 END)
               + 0.25 * CASE WHEN n_tokens > 0 THEN stop / n_tokens ELSE 0 END, 6)
             AS quality_score
    FROM m
    """
    assert_df_matches_duck(df, duck, sql)


def test_lang_id(engine, duck):
    df = text.lang_id(engine.catalog.table("documents"))
    langs = {
        "en": "['the','and','of','to','is','in','that','with']",
        "de": "['der','die','das','und','ist','nicht','mit','ein']",
        "fr": "['le','la','les','et','est','une','dans','que']",
        "es": "['el','los','las','es','una','con','por','para']",
    }
    score = {
        k: f"len(list_filter(toks, x -> list_contains({v}, x)))" for k, v in langs.items()
    }
    sql = f"""
    WITH t AS (
      SELECT doc_id, coalesce(text,'') AS txt, {DUCK_TOKS} AS toks FROM documents
    ), s AS (
      SELECT doc_id, txt,
             {score['en']} AS s_en, {score['de']} AS s_de,
             {score['fr']} AS s_fr, {score['es']} AS s_es
      FROM t
    )
    SELECT doc_id,
      CASE
        WHEN regexp_matches(txt, '[\\x{{4E00}}-\\x{{9FFF}}]') THEN 'zh'
        WHEN regexp_matches(txt, '[\\x{{3040}}-\\x{{30FF}}]') THEN 'ja'
        WHEN regexp_matches(txt, '[\\x{{AC00}}-\\x{{D7AF}}]') THEN 'ko'
        WHEN regexp_matches(txt, '[\\x{{0E00}}-\\x{{0E7F}}]') THEN 'th'
        WHEN regexp_matches(txt, '[\\x{{0400}}-\\x{{04FF}}]') THEN 'ru'
        WHEN regexp_matches(txt, '[\\x{{0600}}-\\x{{06FF}}]') THEN 'ar'
        WHEN regexp_matches(txt, '[\\x{{0900}}-\\x{{097F}}]') THEN 'hi'
        WHEN s_en > 0 AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
        WHEN s_de > 0 AND s_de >= s_fr AND s_de >= s_es THEN 'de'
        WHEN s_fr > 0 AND s_fr >= s_es THEN 'fr'
        WHEN s_es > 0 THEN 'es'
        ELSE 'und'
      END AS lang_guess
    FROM s
    """
    assert_df_matches_duck(df, duck, sql)


def test_fingerprint(engine, duck):
    df = text.fingerprint(engine.catalog.table("documents"))
    sql = f"""
    SELECT doc_id, md5(coalesce(text,'')) AS exact_md5,
           md5(array_to_string(list_sort(list_distinct({DUCK_TOKS})), ' ')) AS shuffle_md5
    FROM documents
    """
    assert_df_matches_duck(df, duck, sql)


def test_exact_dedup(engine, duck):
    df = dedup.exact_dedup(engine.catalog.table("documents"))
    sql = """
    SELECT md5(coalesce(text,'')) AS digest,
           CAST(min(doc_id) AS BIGINT) AS survivor_id,
           CAST(count(*) AS BIGINT) AS n_copies
    FROM documents GROUP BY 1
    """
    assert_df_matches_duck(df, duck, sql)


DUCK_SHINGLES = f"""
    WITH toks AS (
      SELECT doc_id, {DUCK_TOKS} AS t FROM documents
    ), sh0 AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 3
                  THEN list_transform(range(1, len(t) - 1),
                                      i -> array_to_string(list_slice(t, i, i + 2), ' '))
                  ELSE [array_to_string(t, ' ')] END AS arr
      FROM toks
    ), sh AS (
      SELECT DISTINCT doc_id, unnest(arr) AS shingle FROM sh0
    ), shf AS (
      SELECT doc_id, shingle FROM sh WHERE shingle <> ''
    )
"""


def test_shingles(engine, duck):
    df = dedup.shingles(engine.catalog.table("documents"))
    sql = DUCK_SHINGLES + "SELECT doc_id, shingle FROM shf"
    assert_df_matches_duck(df, duck, sql)


def test_minhash_signatures(engine, duck):
    sh = dedup.shingles(engine.catalog.table("documents"))
    df = dedup.minhash_signatures(sh, num_hashes=4)
    p = dedup.MINHASH_PRIME
    base = f"(CAST(('0x' || substring(md5(shingle), 1, 15)) AS BIGINT) % {p})"
    mh = ", ".join(
        f"min(({base} * {a} + {b}) % {p}) AS mh{i}"
        for i, (a, b) in enumerate(dedup.minhash_coeffs(4))
    )
    sql = DUCK_SHINGLES + (
        f"SELECT doc_id, {mh}, CAST(count(*) AS BIGINT) AS n_shingles "
        "FROM shf GROUP BY doc_id"
    )
    assert_df_matches_duck(df, duck, sql)


def test_ngram_jaccard_pairs(engine, duck):
    df = dedup.ngram_jaccard_pairs(engine.catalog.table("documents"), threshold=0.05)
    sql = DUCK_SHINGLES + """
    , co AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM shf GROUP BY 1
    )
    SELECT doc_a, doc_b,
           round(n_common / (sa.n + sb.n - n_common), 6) AS jaccard
    FROM co JOIN sizes sa ON co.doc_a = sa.doc_id
            JOIN sizes sb ON co.doc_b = sb.doc_id
    WHERE round(n_common / (sa.n + sb.n - n_common), 6) >= 0.05
    """
    assert_df_matches_duck(df, duck, sql)


def test_ngram_jaccard_max_shingle_freq(spark):
    """Stop-shingle cap: with no ubiquitous shingle the cap is a no-op;
    a boilerplate shingle shared by every doc stops generating candidate
    pairs once its document frequency exceeds the cap."""
    distinct = spark.createDataFrame(
        [(i, f"alpha{i} beta{i} gamma{i} delta{i} epsilon{i}") for i in range(6)],
        "doc_id long, text string",
    )
    base = dedup.ngram_jaccard_pairs(distinct, threshold=0.01)
    capped = dedup.ngram_jaccard_pairs(distinct, threshold=0.01, max_shingle_freq=3)
    assert sorted(map(tuple, base.collect())) == sorted(map(tuple, capped.collect()))

    boiler = spark.createDataFrame(
        [(i, f"alpha{i} beta{i} gamma{i} shared common boilerplate tail") for i in range(6)],
        "doc_id long, text string",
    )
    pairs_nocap = dedup.ngram_jaccard_pairs(boiler, threshold=0.01)
    assert pairs_nocap.count() == 15  # all C(6,2) pairs share the boilerplate shingles
    pairs_cap = dedup.ngram_jaccard_pairs(boiler, threshold=0.01, max_shingle_freq=3)
    assert pairs_cap.count() == 0  # stop-shingles dropped → no co-shingle candidates


def test_embedding_neardup_blocked_subset_of_unblocked(engine):
    """block_col output must be the same-bucket subset of the exact
    O(n²) pairs (the 100 TB path returns no false positives)."""
    emb = engine.catalog.table("embeddings").limit(200)
    exact = dedup.embedding_neardup(emb, threshold=0.2)
    blocked = dedup.embedding_neardup(
        emb.withColumn("bucket", similarity.sign_lsh_bucket("embedding", bits=8)),
        threshold=0.2,
        block_col="bucket",
    )
    e = {(r["id_a"], r["id_b"]) for r in exact.collect()}
    b = {(r["id_a"], r["id_b"]) for r in blocked.collect()}
    assert b <= e
    assert b, "blocking dropped every pair — bucket expression is broken"


def test_embedding_pairing_arrow_matches_jvm(engine):
    """impl='arrow' (per-block gemm mask + exact per-pair recompute)
    must emit the SAME (id_a, id_b, cosine) rows as the JVM expression
    path, for both the self-join and the incremental cross form."""
    emb = engine.catalog.table("embeddings").limit(200).withColumn(
        "bucket", similarity.sign_lsh_bucket("embedding", bits=6))
    jvm = {(r["id_a"], r["id_b"]): r["cosine"]
           for r in dedup.embedding_neardup(
               emb, threshold=0.2, block_col="bucket").collect()}
    arr = {(r["id_a"], r["id_b"]): r["cosine"]
           for r in dedup.embedding_neardup(
               emb, threshold=0.2, block_col="bucket",
               impl="arrow").collect()}
    assert arr == jvm
    assert jvm, "no pairs at threshold 0.2 — test lost its teeth"

    base = engine.catalog.table("embeddings").limit(200)
    cent = base.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding")
    batch = base.where(F.col("vec_id") % 5 == 0)
    corpus = base.where(F.col("vec_id") % 5 != 0)
    jvm_x = {(r["id_a"], r["id_b"]): r["cosine"]
             for r in dedup.semantic_dedup_pairs_incremental(
                 batch, cent, corpus_df=corpus, threshold=0.3).collect()}
    arr_x = {(r["id_a"], r["id_b"]): r["cosine"]
             for r in dedup.semantic_dedup_pairs_incremental(
                 batch, cent, corpus_df=corpus, threshold=0.3,
                 impl="arrow").collect()}
    assert arr_x == jvm_x
    assert jvm_x, "no cross pair at threshold 0.3 — test lost its teeth"


def test_embedding_pairing_arrow_corners(spark):
    """The arrow path's documented corner policy: NULL vectors are
    excluded (JVM parity), infinite elements and zero norms fail loud,
    and impl='arrow' without block_col is refused up front."""
    rows = [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, None)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>").withColumn(
        "bucket", F.lit(0))
    pairs = {(r["id_a"], r["id_b"]) for r in dedup.embedding_neardup(
        emb, threshold=0.5, block_col="bucket", impl="arrow").collect()}
    assert pairs == {(1, 2)}
    with pytest.raises(ValueError, match="needs block_col"):
        dedup.embedding_neardup(emb, threshold=0.5, impl="arrow")
    bad_inf = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [float("inf"), 0.0])],
        "vec_id long, embedding array<double>").withColumn(
        "bucket", F.lit(0))
    with pytest.raises(Exception, match="infinite vector"):
        dedup.embedding_neardup(
            bad_inf, threshold=0.0, block_col="bucket",
            impl="arrow").collect()
    bad_zero = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0])],
        "vec_id long, embedding array<double>").withColumn(
        "bucket", F.lit(0))
    with pytest.raises(Exception, match="zero-norm"):
        dedup.embedding_neardup(
            bad_zero, threshold=0.0, block_col="bucket",
            impl="arrow").collect()


@pytest.mark.parametrize("thr", [0.5, 0.4])
def test_embedding_pairing_arrow_threshold_boundary(spark, thr):
    """r14 focused gate for the gemm-mask slack (mask keeps cosines one
    rounding step BELOW threshold; _exact_cosines decides): a pair whose
    exact rounded cosine lands EXACTLY on the threshold must be emitted
    (pre-slack, a half-ulp gemm wobble could mask it out), and a pair at
    threshold − 1e-6 — inside the widened mask — must NOT leak out.
    r15 advice: thr=0.4 added — the contract entries' threshold, where
    np.round(0.4 - 1e-6, 6) lands one float ULP below 0.4 - 1e-6 and a
    1e-6 mask slack silently loses its one-rounding-step guarantee."""
    import math

    on_thr = [thr, math.sqrt(1 - thr ** 2)]   # cos vs [1,0] rounds to thr
    b = thr - 1e-6
    below = [b, math.sqrt(1 - b ** 2)]        # rounds to thr - 1e-6
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, on_thr), (3, below)],
        "vec_id long, embedding array<double>").withColumn(
        "bucket", F.lit(0))
    got = {(r["id_a"], r["id_b"]): r["cosine"] for r in dedup.embedding_neardup(
        emb, threshold=thr, block_col="bucket", impl="arrow").collect()}
    assert (1, 2) in got and got[(1, 2)] == thr
    assert (1, 3) not in got, f"sub-threshold pair leaked: {got[(1, 3)]}"
    assert (2, 3) in got  # near-identical vectors: sanity that pairing ran


def test_embedding_pairing_arrow_no_equal_id_self_pair(spark):
    """r15 advice: an id appearing twice in a block must not emit an
    id_a == id_b pair (cosine 1.0) from the arrow path — the JVM path's
    l.id < r.id condition never does. Parity on duplicate-id input."""
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [1.0, 0.01])],
        "vec_id long, embedding array<double>").withColumn(
        "bucket", F.lit(0))
    rows = dedup.embedding_neardup(
        emb, threshold=0.5, block_col="bucket", impl="arrow").collect()
    assert all(r["id_a"] != r["id_b"] for r in rows), rows
    # the duplicate id still pairs with OTHER ids (twice — one per copy,
    # dropped to one by the downstream distinct consumers when they ask)
    assert {(r["id_a"], r["id_b"]) for r in rows} == {(1, 2)}


def test_minhash_lsh_runs_and_verifies(engine):
    # LSH candidates ⊆ all pairs; every reported pair's jaccard must agree
    # with the exact n-gram computation at the same threshold.
    docs = engine.catalog.table("documents")
    lsh = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in dedup.minhash_lsh_dedup(docs, threshold=0.05).collect()}
    exact = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in dedup.ngram_jaccard_pairs(docs, threshold=0.05).collect()}
    for pair, j in lsh.items():
        assert pair in exact and abs(exact[pair] - j) < 1e-9


def test_minhash_lsh_cache_equivalent(engine):
    """r14 focused gate for the pin-cache restructure: cache=True pins
    the signature and candidate tables (collapsing their re-planned
    subtrees) — pinning must be invisible in the results. Compare the
    full pair set, jaccard included, against the uncached run."""
    from coolplaydruid_spark.operators import dedup as _dedup

    docs = engine.catalog.table("documents")
    key = lambda r: (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))  # noqa: E731
    _dedup.release_caches()
    cached = sorted(map(key, dedup.minhash_lsh_dedup(
        docs, threshold=0.05, cache=True).collect()))
    _dedup.release_caches()
    uncached = sorted(map(key, dedup.minhash_lsh_dedup(
        docs, threshold=0.05, cache=False).collect()))
    assert cached == uncached and cached


def test_banded_hamming_group_dedup_matches_direct_join(engine):
    """r15 focused gate for the signature-group dedup (guide §8): the
    uncapped self form now pairs DISTINCT signatures and expands member
    groups (same-signature pairs at Hamming 0, cross-group pairs
    inheriting the rep Hamming). A never-binding cap routes through the
    old direct banded self-join (the cap path is unchanged), giving the
    reference: both must produce the identical (a, b, hamming) set.
    Exercised on image dHash AND simhash (different band widths and
    hamming expressions) over the fixture corpus, whose duplicated docs
    produce real multi-member groups."""
    from coolplaydruid_spark.contract import _docs_as_media
    from coolplaydruid_spark.operators import dedup as _dedup

    docs = engine.catalog.table("documents")
    key = lambda r: tuple(r[c] for c in r.__fields__)  # noqa: E731
    for mk in (
        lambda cap: multimodal.phash_neardup(
            _docs_as_media(engine, "png"), max_hamming=6,
            max_band_bucket=cap),
        lambda cap: dedup.simhash_dedup(docs, max_hamming=3,
                                        max_band_bucket=cap),
    ):
        _dedup.release_caches()
        grouped = sorted(map(key, mk(None).collect()))
        _dedup.release_caches()
        direct = sorted(map(key, mk(10**9).collect()))
        assert grouped == direct and grouped
        # sanity: the fixture really has multi-member groups (hamming-0
        # mass duplicates), or the expansion half of the path is vacuous
        assert any(r[-1] == 0 for r in grouped)
    _dedup.release_caches()


def _verify_jaccard_explode(candidates, sh, threshold, id_col, sizes=None):
    """The r14 shape of dedup._verify_jaccard, kept as its reference:
    explode each pair into its members, join member → shingles, count
    the shingles seen twice per pair."""
    from coolplaydruid_spark.operators import dedup as _dedup

    members = (
        candidates.select(F.explode(F.array("doc_a", "doc_b")).alias(id_col))
        .distinct()
    )
    sh_c = sh.join(members, on=id_col, how="left_semi")
    pair_members = candidates.select(
        "doc_a", "doc_b", F.explode(F.array("doc_a", "doc_b")).alias(id_col)
    )
    pair_sh = (
        pair_members.join(sh_c, on=id_col)
        .groupBy("doc_a", "doc_b", "shingle")
        .agg(F.count(F.lit(1)).alias("__c"))
        .where(F.col("__c") == 2)
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    if sizes is None:
        sizes = sh_c.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    return _dedup._attach_sizes_and_score(pair_sh, sizes, threshold, id_col)


def test_verify_jaccard_arrays_matches_explode(engine):
    """r15 focused gate for the array-intersect verify (guide §2.3):
    dedup._verify_jaccard (one collect_list per member + in-row
    array_intersect) must equal the r14 per-(pair,shingle) groupBy
    (_verify_jaccard_explode) pair-for-pair and jaccard-for-jaccard.
    Run through the full minhash pipeline at a low threshold so the
    candidate set is rich."""
    from coolplaydruid_spark.operators import dedup as _dedup

    docs = engine.catalog.table("documents")
    sh = dedup.shingles(docs, k=3, as_hash=True)
    sig = dedup.minhash_signatures(sh, hashed=True)
    banded = dedup.band_hashes(sig)
    l, r = banded.alias("l"), banded.alias("r")
    cands = (
        l.join(r, (F.col("l.band") == F.col("r.band"))
               & (F.col("l.bh") == F.col("r.bh"))
               & (F.col("l.doc_id") < F.col("r.doc_id")))
        .select(F.col("l.doc_id").alias("doc_a"),
                F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )
    key = lambda r: (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))  # noqa: E731
    out = {}
    sizes = sig.select("doc_id", "n_shingles")
    # caller-supplied sizes (the minhash shape) AND the sizes=None branch
    # (sizes derived from the reduced sets) must both be shape-invariant
    for sz in (sizes, None):
        for via, verify in (("arrays", _dedup._verify_jaccard),
                            ("explode", _verify_jaccard_explode)):
            _dedup.release_caches()
            out[via] = sorted(map(key, verify(
                cands, sh, 0.05, "doc_id", sizes=sz).collect()))
        assert out["arrays"] == out["explode"] and out["arrays"]
    _dedup.release_caches()


def test_ngram_jaccard_cache_equivalent(engine):
    """r14 focused gate for the shingle-table pin: cache=True pins the
    (doc_id, shingle-hash) table feeding both co-shingle join sides and
    the sizes aggregation — pinning must be invisible in the results."""
    from coolplaydruid_spark.operators import dedup as _dedup

    docs = engine.catalog.table("documents")
    key = lambda r: (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))  # noqa: E731
    _dedup.release_caches()
    cached = sorted(map(key, dedup.ngram_jaccard_pairs(
        docs, threshold=0.05, cache=True).collect()))
    _dedup.release_caches()
    uncached = sorted(map(key, dedup.ngram_jaccard_pairs(
        docs, threshold=0.05, cache=False).collect()))
    assert cached == uncached and cached


def test_simhash_signatures_and_pairs(engine, duck):
    df = dedup.simhash_signatures(engine.catalog.table("documents"))
    bits = []
    for i in range(32):
        bits.append(
            "CASE WHEN list_sum(list_transform(dt, x -> CASE WHEN "
            f"substr(md5(x), {i + 1}, 1) IN ('8','9','a','b','c','d','e','f') "
            "THEN 1 ELSE -1 END)) > 0 THEN '1' ELSE '0' END"
        )
    concat = " || ".join(bits)
    sql = f"""
    WITH t AS (
      SELECT doc_id, list_distinct({DUCK_TOKS}) AS dt FROM documents
    )
    SELECT doc_id, {concat} AS simhash FROM t
    """
    assert_df_matches_duck(df, duck, sql)

    pairs = dedup.simhash_dedup(engine.catalog.table("documents"), max_hamming=3)
    rows = pairs.collect()
    for r in rows:
        assert 0 <= r["hamming"] <= 3
    # past the pigeonhole guarantee the banded join silently loses
    # recall — raise instead (consistent with phash/audio near-dup)
    import pytest as _pytest
    with _pytest.raises(ValueError, match="pigeonhole"):
        dedup.simhash_dedup(engine.catalog.table("documents"), max_hamming=8)


def test_simhash_packed_hamming_matches_string_bruteforce(engine):
    """The r14 packed-long bit_count(xor) hamming must reproduce the
    all-pairs character-diff count over the '0'/'1' signature strings
    exactly (pair set AND distances) — the representation the declared
    signatures query still exposes."""
    docs = engine.catalog.table("documents").limit(150)
    sigs = {r["doc_id"]: r["simhash"]
            for r in dedup.simhash_signatures(docs).collect()}
    want = {}
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = sum(ca != cb for ca, cb in zip(sigs[a], sigs[b]))
            if h <= 3:
                want[(a, b)] = h
    got = {(r["doc_a"], r["doc_b"]): r["hamming"]
           for r in dedup.simhash_dedup(docs, max_hamming=3).collect()}
    assert got == want
    assert want, "no pair within hamming 3 — test lost its teeth"


def test_embedding_neardup(engine, duck):
    df = dedup.embedding_neardup(engine.catalog.table("embeddings"), threshold=0.8)
    sql = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.v, b.v) /
                 (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)
             AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE round(list_dot_product(a.v, b.v) /
                (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.8
    """
    assert_df_matches_duck(df, duck, sql)


def test_semantic_dedup_pairs_are_cocell_restriction_of_brute(engine):
    """SemDeDup pairing must be EXACTLY the brute-force cosine pairs
    restricted to co-cell ids — the cells lose recall only across cell
    boundaries (the documented approximation), never inside one."""
    emb = engine.catalog.table("embeddings").limit(200)
    cent = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    cell_of = {
        r["vec_id"]: r["__cell"]
        for r in dedup.semantic_cells(emb, cent).select("vec_id", "__cell").collect()
    }
    brute = {(r["id_a"], r["id_b"])
             for r in dedup.embedding_neardup(emb, threshold=0.3).collect()}
    sem = {(r["id_a"], r["id_b"])
           for r in dedup.semantic_dedup_pairs(emb, cent, threshold=0.3).collect()}
    assert sem == {(a, b) for a, b in brute if cell_of[a] == cell_of[b]}
    assert sem, "no within-cell pair at threshold 0.3 — test lost its teeth"


def test_semantic_dedup_keep_policy(spark):
    """Hand-built two-cell corpus: the component keeps its member
    FARTHEST from the cell centroid; a high-cosine pair that straddles
    cells is NOT a duplicate (within-cell semantics)."""
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),    # cell 0, cell_cos 1.0
            (2, [0.98, 0.2]),   # cell 0, pairs with 1 (cos .9798) and 3 (.9038)
            (3, [0.8, 0.6]),    # cell 0, cell_cos 0.8 — farthest → survivor
            (4, [0.0, 1.0]),    # cell 1
            (5, [0.6, 0.8]),    # cell 1; cos(3,5)=0.96 but cells differ
        ],
        "vec_id long, embedding array<double>",
    )
    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    pairs = {(r["id_a"], r["id_b"])
             for r in dedup.semantic_dedup_pairs(emb, cents, threshold=0.9).collect()}
    assert pairs == {(1, 2), (2, 3)}
    kept = dedup.semantic_dedup(emb, centroids=cents, threshold=0.9)
    assert set(kept.columns) == {"vec_id", "embedding"}
    assert {r["vec_id"] for r in kept.collect()} == {3, 4, 5}


def test_semantic_dedup_driver_fit_path(engine):
    """centroids=None drives similarity.fit_centroids (bounded
    md5-ordered sample, plan-literal fold): survivors are a subset of
    the corpus, deterministic across two runs (fixed seed), and every
    dropped id is an endpoint of some within-cell pair."""
    emb = engine.catalog.table("embeddings").limit(300)
    ids = {r["vec_id"] for r in emb.select("vec_id").collect()}
    kept1 = {r["vec_id"]
             for r in dedup.semantic_dedup(emb, threshold=0.4, n_clusters=8).collect()}
    kept2 = {r["vec_id"]
             for r in dedup.semantic_dedup(emb, threshold=0.4, n_clusters=8).collect()}
    assert kept1 == kept2 <= ids
    from coolplaydruid_spark.operators import similarity as _sim

    fitted = _sim.fit_centroids(emb, n_clusters=8)
    endpoints = set()
    for r in dedup.semantic_dedup_pairs(
            emb, [(i, list(c)) for i, c in enumerate(fitted)],
            threshold=0.4).collect():
        endpoints |= {r["id_a"], r["id_b"]}
    assert ids - kept1 <= endpoints
    assert ids - kept1, "nothing deduped at threshold 0.4 — test lost its teeth"


def test_semantic_fit_distributed_past_driver_zone(spark):
    """The SemDeDup fit reaches production cell counts (r11 verdict #1):
    impl='auto' past DRIVER_FIT_MAX_CELLS routes to the distributed
    pyspark.ml KMeans (the corpus never lands on the driver), and the
    fitted 5k-cell set assigns through the broadcast-Arrow path. The
    Arrow assignment at full 5k cells is checked against an independent
    numpy oracle implementing the documented rule (rounded cosine,
    ties → lowest cid); arrow ≡ JVM parity is asserted on a pinned
    48-centroid subsample of the SAME fitted set (the JVM literal path
    is documented as the ≤4k-float tool — at 5k×16 its plan alone is
    minutes, which is exactly why the ml+broadcast path exists)."""
    import numpy as np

    from coolplaydruid_spark.operators.similarity import DRIVER_FIT_MAX_CELLS

    assert DRIVER_FIT_MAX_CELLS < 5000
    dim, k, n = 16, 5000, 12_000
    rng = np.random.RandomState(7)
    rows = [(i, [float(x) for x in rng.randn(dim)]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    C = similarity.fit_centroids(df, n_clusters=k, seed=42, max_iter=1)
    assert C is not None and C.shape == (k, dim)

    cents = [(i, [float(x) for x in c]) for i, c in enumerate(C)]
    sub_rows = rows[:40]
    sub = df.where(F.col("vec_id") < 40)
    arrow = {r["vec_id"]: (r["__cell"], r["__cell_cos"])
             for r in dedup.semantic_cells(sub, cents, impl="arrow").collect()}

    # independent numpy oracle over ALL 5k cells
    cn = np.sqrt((C * C).sum(axis=1))
    for vid, vec in sub_rows:
        v = np.asarray(vec)
        S = np.round((C @ v) / (cn * np.sqrt(v @ v)), 6)
        best = int(S.argmax())  # argmax returns the FIRST max → lowest cid
        assert arrow[vid] == (best, float(S[best])), vid

    # arrow ≡ jvm glue on a pinned subsample of the fitted centroids
    sub_cents = cents[::125][:48]
    jvm = {r["vec_id"]: (r["__cell"], r["__cell_cos"])
           for r in dedup.semantic_cells(sub, sub_cents, impl="jvm").collect()}
    arrow2 = {r["vec_id"]: (r["__cell"], r["__cell_cos"])
              for r in dedup.semantic_cells(sub, sub_cents, impl="arrow").collect()}
    assert jvm == arrow2


def test_fit_centroids_impl_routing(spark):
    """impl='ml' and impl='driver' agree on shape and both produce
    usable centroids on a small corpus; 'auto' stays driver-side below
    the threshold (no pyspark.ml import cost on the oracle gates);
    empty corpus → None on both paths."""
    import numpy as np

    rng = np.random.RandomState(3)
    rows = [(i, [float(x) for x in rng.randn(8)]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    Cd = similarity.fit_centroids(df, n_clusters=6, impl="driver")
    Cm = similarity.fit_centroids(df, n_clusters=6, impl="ml", max_iter=3)
    assert Cd.shape == Cm.shape == (6, 8)
    empty = df.where(F.lit(False))
    assert similarity.fit_centroids(empty, n_clusters=4, impl="driver") is None
    assert similarity.fit_centroids(empty, n_clusters=4, impl="ml") is None
    with pytest.raises(ValueError, match="impl"):
        similarity.fit_centroids(df, n_clusters=4, impl="bogus")
    # ml path excludes null vectors / null elements from TRAINING only
    with_null = spark.createDataFrame(
        rows[:50] + [(900, None), (901, [1.0, None] + [0.0] * 6)],
        "vec_id long, embedding array<double>")
    Cn = similarity.fit_centroids(with_null, n_clusters=4, impl="ml", max_iter=2)
    assert Cn.shape == (4, 8) and np.isfinite(Cn).all()


def test_brute_force_topk(engine, duck):
    emb = engine.catalog.table("embeddings")
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.where(F.col("vec_id") >= 3)
    df = similarity.brute_force_topk(corpus, queries, k=5)
    sql = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
    c AS (SELECT vec_id AS neighbor_id, v AS cv FROM e WHERE vec_id >= 3),
    scored AS (
      SELECT query_id, neighbor_id,
             round(list_dot_product(qv, cv) /
                   (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6)
               AS cosine
      FROM c CROSS JOIN q
    ), ranked AS (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                     ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
    """
    assert_df_matches_duck(df, duck, sql)


def test_lsh_topk_subset_of_bucket(engine):
    emb = engine.catalog.table("embeddings")
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.where(F.col("vec_id") >= 3)
    rows = similarity.lsh_topk(corpus, queries, k=5, bits=4).collect()
    assert rows, "4-bit buckets should be populated"
    # every (query, neighbor) shares the 4-bit sign bucket
    buckets = {
        r["vec_id"]: r["b"]
        for r in emb.select(
            "vec_id", similarity.sign_lsh_bucket("embedding", 4).alias("b")
        ).collect()
    }
    for r in rows:
        assert buckets[r["query_id"]] == buckets[r["neighbor_id"]]


def test_multimodal_features(engine, duck):
    docs = engine.catalog.table("documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.coalesce(F.col("text"), F.lit("")), "utf-8").alias("media"),
    )
    df = multimodal.extract_features(media).select("media_id", "n_bytes", "digest")
    sql = """
    SELECT doc_id AS media_id,
           CAST(octet_length(encode(coalesce(text,''))) AS BIGINT) AS n_bytes,
           md5(coalesce(text,'')) AS digest
    FROM documents
    """
    assert_df_matches_duck(df, duck, sql)


def test_multimodal_stubs_run(engine):
    docs = engine.catalog.table("documents").limit(20)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "utf-8").alias("media"),
        (F.col("n_chars") * 10).alias("duration_ms"),
    )
    resized = multimodal.resize_stub(media, 224, 224)
    assert resized.columns == ["media_id", "media", "width", "height"]
    assert resized.count() == 20
    frames = multimodal.frame_sample_stub(media, every_ms=5000)
    assert frames.columns == ["media_id", "frame_ts_ms", "frame"]
    assert frames.count() >= 20


def test_contamination_check_broadcasts_probes(engine):
    """Probe shingles must broadcast; the corpus side must not shuffle by
    shingle (one exchange only, for the per-doc count)."""
    docs = engine.catalog.table("documents")
    out = text.contamination_check(
        docs.where(F.col("doc_id") >= 20), docs.where(F.col("doc_id") < 20)
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    rows = {r["doc_id"]: r["n_contaminated"] for r in out.collect()}
    assert all(k >= 20 for k in rows)
    # a doc compared against itself is fully contaminated — sanity berth
    self_hit = text.contamination_check(
        docs.where(F.col("doc_id") == 30), docs.where(F.col("doc_id") == 30)
    ).collect()
    assert len(self_hit) == 1 and self_hit[0]["n_contaminated"] > 0


def test_hash_sampling_invariants(engine):
    """Deterministic sampling contract: same-salt samples NEST across
    rates, different salts decorrelate, and re-evaluation returns the
    identical row set (retry-safety — seeded sample() can't promise
    this under re-planning)."""
    from coolplaydruid_spark.operators import sampling

    docs = engine.catalog.table("documents").select("doc_id")
    s10 = {r["doc_id"] for r in sampling.hash_sample(docs, 0.10).collect()}
    s50 = {r["doc_id"] for r in sampling.hash_sample(docs, 0.50).collect()}
    assert s10 <= s50  # nested
    again = {r["doc_id"] for r in sampling.hash_sample(docs, 0.10).collect()}
    assert s10 == again  # deterministic
    other = {r["doc_id"] for r in sampling.hash_sample(docs, 0.10, salt="b").collect()}
    n = docs.count()
    # independent 10% samples overlap ~1%: allow generous slack at n=500
    assert len(s10 & other) < 0.05 * n
    # rate accuracy at 2^24 buckets: within a few points at this n
    assert abs(len(s50) / n - 0.5) < 0.1


def test_stratified_sample_rates(engine):
    from coolplaydruid_spark.operators import sampling

    docs = engine.catalog.table("documents").select("doc_id", "lang")
    out = sampling.stratified_sample(docs, "lang", {"en": 1.0, "de": 0.0},
                                     default_fraction=0.5)
    by_lang = {r["lang"]: r["n"] for r in
               out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    totals = {r["lang"]: r["n"] for r in
              docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert by_lang["en"] == totals["en"]          # keep-all stratum
    assert "de" not in by_lang                     # drop-all stratum
    for lang in ("fr", "es", "zh"):                # default 0.5 within slack
        assert 0.25 < by_lang[lang] / totals[lang] < 0.75


def test_pack_sequences_invariants(engine):
    """FFD packing contract: exact cover (every doc in exactly one bin),
    budget respected except oversized singletons, deterministic across
    runs, and FFD density — bins used ≤ 2x the volume lower bound."""
    from coolplaydruid_spark.operators import packing

    docs = text.token_count(engine.catalog.table("documents")).select(
        "doc_id", "ws_tokens"
    )
    budget = 64
    bins = packing.pack_sequences(docs, budget=budget).collect()

    all_docs = [d for b in bins for d in b["doc_ids"]]
    assert len(all_docs) == len(set(all_docs)) == docs.count()  # exact cover
    toks = {r["doc_id"]: r["ws_tokens"] for r in docs.collect()}
    for b in bins:
        assert b["total_tokens"] == sum(toks[d] for d in b["doc_ids"])
        if b["n_docs"] > 1:
            assert b["total_tokens"] <= budget
        else:  # singleton bins may legitimately exceed the budget
            assert b["total_tokens"] <= budget or toks[b["doc_ids"][0]] > budget
    # density: FFD stays within 2x of the volume lower bound even with
    # the per-partition split (per-partition waste is ≤1 bin each)
    lower = -(-sum(toks.values()) // budget)
    assert len(bins) <= 2 * lower + 32

    again = packing.pack_sequences(docs, budget=budget).collect()
    assert sorted(b["seq_id"] for b in bins) == sorted(b["seq_id"] for b in again)


def test_contract_validators_pass(spark):
    """The Python validators behind the two non-SQL-oracled contract
    entries (r7: exact FFD replay for packing; exact-cosine + rank +
    recall verdict for IVF) accept the real outputs and reject
    corruptions — so a CONTRACT artifact `invariants_pass: true` means
    something."""
    from coolplaydruid_spark import contract
    from tests.conftest import SF_DIR

    for name in ("pack_training_sequences", "similarity_topk_ivf"):
        rows = contract.QUERIES[name](spark, SF_DIR).collect()
        ok, detail = contract.VALIDATORS[name](spark, SF_DIR, rows)
        assert ok, f"{name}: {detail}"

    # corruption sensitivity: drop a row / perturb a cosine → reject
    pack_rows = contract.QUERIES["pack_training_sequences"](
        spark, SF_DIR).collect()
    ok, _ = contract.VALIDATORS["pack_training_sequences"](
        spark, SF_DIR, pack_rows[:-1])
    assert not ok
    ivf_rows = contract.QUERIES["similarity_topk_ivf"](spark, SF_DIR).collect()
    bad = [r.asDict() for r in ivf_rows]
    bad[0]["cosine"] = bad[0]["cosine"] + 0.01
    ok, _ = contract.VALIDATORS["similarity_topk_ivf"](spark, SF_DIR, bad)
    assert not ok


def test_ngram_top_k_counts_every_occurrence(spark):
    from coolplaydruid_spark.operators import corpus

    df = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b"), (3, "x"), (4, None), (5, "")],
        ["doc_id", "text"],
    )
    rows = corpus.ngram_top_k(df, n=2, k=10).collect()
    got = {r["ngram"]: r["cnt"] for r in rows}
    # "a b" appears twice in doc 1 and once in doc 2; short/empty docs
    # contribute nothing (no whole-doc fallback, unlike shingles).
    assert got == {"a b": 3, "b a": 1, "b c": 1}
    # deterministic cut order: cnt DESC then gram ASC
    assert [r["ngram"] for r in rows] == ["a b", "b a", "b c"]


def test_pii_redact_order_and_counts(spark):
    from coolplaydruid_spark.operators import corpus

    df = spark.createDataFrame(
        [
            (1, "mail bob123456789@corp.example.org now"),
            (2, "ip 192.168.254.001 acct 7770001234"),
            (3, "clean text"),
            (4, None),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in corpus.pii_redact(df).collect()}
    # the email's 9-digit local part must NOT also count as a long number
    assert out[1]["n_emails"] == 1 and out[1]["n_long_numbers"] == 0
    assert out[1]["redacted"] == "mail <EMAIL> now"
    assert out[2]["n_ips"] == 1 and out[2]["n_long_numbers"] == 1
    assert out[2]["redacted"] == "ip <IP> acct <NUM>"
    assert out[3]["redacted"] == "clean text"
    assert out[4]["redacted"] == ""


def test_mixture_report_single_pass_and_shares(engine):
    from coolplaydruid_spark.operators import corpus

    df = corpus.mixture_report(engine.catalog.table("documents"))
    rows = df.collect()
    assert abs(sum(r["doc_share"] for r in rows) - 1.0) < 1e-3
    assert abs(sum(r["token_share"] for r in rows) - 1.0) < 1e-3
    # no group value is NULL in the output (grouping_id, not null-ness,
    # distinguishes subtotal rows)
    assert all(r["lang"] is not None and r["source"] is not None for r in rows)
    # single-pass plan: exactly one scan of the documents parquet
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.lower().count("parquet coolplaydruid") + plan.lower().count("filescan") <= 2


def test_repetition_signals_edge_cases(spark):
    docs = spark.createDataFrame(
        [
            (1, "a a a a"),            # one token repeated: ttr .25, top 1.0
            (2, "x y x y x"),          # top token 3/5; top bigram 2/4
            (3, "solo"),               # single token: no bigrams -> 0.0
            (4, ""),                   # empty: all zeros
            (5, None),                 # null text == empty
            (6, "u v w"),              # all distinct: ttr 1, fracs 1/n
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (
            r["n_tokens"],
            r["distinct_token_ratio"],
            r["top_token_frac"],
            r["top_bigram_frac"],
        )
        for r in text.repetition_signals(docs).collect()
    }
    assert got[1] == (4, 0.25, 1.0, 1.0)  # bigram "a a" is all 3 bigrams
    assert got[2] == (5, 0.4, 0.6, 0.5)   # "x y" appears 2 of 4 bigrams
    assert got[3] == (1, 1.0, 1.0, 0.0)
    assert got[4] == (0, 0.0, 0.0, 0.0)
    assert got[5] == (0, 0.0, 0.0, 0.0)
    assert got[6] == (3, 1.0, round(1 / 3, 6), 0.5)


def test_repetition_signals_map_only(engine):
    """The whole computation must be a single projection — no Exchange
    (the 100 TB cost is the scan, nothing else)."""
    df = text.repetition_signals(engine.catalog.table("documents"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_chunk_documents_windows_and_tail(spark):
    from coolplaydruid_spark.operators import chunking

    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(230))), (2, "a b c"),
         (3, ""), (4, None), (5, " ".join(f"x{i}" for i in range(100)))],
        "doc_id long, text string",
    )
    rows = chunking.chunk_documents(docs, window=100, stride=50).collect()
    got = {}
    for r in rows:
        got.setdefault(r["doc_id"], []).append((r["chunk_index"], r["n_tokens"]))
    # 230 tokens: starts 0/50/100/150 — the 150 window covers to the end,
    # so no redundant 200-start sub-tail is emitted
    assert got[1] == [(0, 100), (1, 100), (2, 100), (3, 80)]
    assert got[2] == [(0, 3)]          # short doc = one whole-doc chunk
    assert 3 not in got and 4 not in got  # empty/null docs yield nothing
    assert got[5] == [(0, 100)]        # exact fit = exactly one chunk
    # chunks reassemble the document (window == stride → disjoint cover)
    cover = chunking.chunk_documents(docs, window=50, stride=50).collect()
    text1 = " ".join(
        r["chunk_text"] for r in sorted(
            (c for c in cover if c["doc_id"] == 1), key=lambda c: c["chunk_index"]
        )
    )
    assert text1 == " ".join(f"w{i}" for i in range(230))


def test_chunk_documents_rejects_bad_params(spark):
    import pytest as _pytest

    from coolplaydruid_spark.operators import chunking

    docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        chunking.chunk_documents(docs, window=10, stride=11)


def test_embedding_normalize_and_quantize(spark):
    from coolplaydruid_spark.operators import embeddings

    df = spark.createDataFrame(
        [(1, [3.0, -4.0]), (2, [0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    norm = {r["vec_id"]: r for r in embeddings.l2_normalize(df).collect()}
    assert norm[1]["norm"] == 5.0 and norm[1]["unit"] == [0.6, -0.8]
    assert norm[2]["norm"] == 0.0 and norm[2]["unit"] == [0.0, 0.0]  # no NaN
    q = {r["vec_id"]: r for r in embeddings.quantize_int8(df).collect()}
    # 3*31.75=95.25 → floor(95.75)=95; -4*31.75=-127 → floor(-126.5)=-127
    assert q[1]["q8"] == [95, -127]
    assert q[2]["q8"] == [0, 0] and q[2]["scale"] == 0.0


def test_sample_to_mixture_proportions_and_nesting(spark):
    from coolplaydruid_spark.operators import sampling

    rows = [(i, "a" if i < 600 else ("b" if i < 800 else "c"))
            for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, cat string")
    out = sampling.sample_to_mixture(df, "cat", {"a": 1.0, "b": 1.0})
    got = {r["cat"]: r["count"] for r in out.groupBy("cat").count().collect()}
    # b is scarcest per weight (200/1) → kept whole; a targets 200
    assert got["b"] == 200
    assert abs(got["a"] - 200) < 40  # hash-gate binomial tolerance
    assert "c" not in got            # no target → dropped
    # deterministic: the same call returns the identical id set
    ids1 = {r["doc_id"] for r in out.collect()}
    ids2 = {r["doc_id"] for r in
            sampling.sample_to_mixture(df, "cat", {"a": 1.0, "b": 1.0}).collect()}
    assert ids1 == ids2
    import pytest as _pytest
    with _pytest.raises(ValueError):
        sampling.sample_to_mixture(df, "cat", {"a": 0.0})
    # a target category absent from the data → the only exact answer is
    # the empty corpus (loudly correct, never a silently skewed mixture)
    assert sampling.sample_to_mixture(
        df, "cat", {"a": 1.0, "nonexistent": 1.0}
    ).count() == 0


def test_write_training_shards_deterministic(spark, tmp_path):
    """Shard export: exact shard count, hash-deterministic assignment
    across re-runs, every row present exactly once."""
    from pathlib import Path

    from coolplaydruid_spark.operators import packing

    df = spark.createDataFrame(
        [(i, [i, i + 1], 2, 100 + i) for i in range(200)],
        "seq_id long, doc_ids array<long>, n_docs int, total_tokens long",
    )
    dest = tmp_path / "shards"
    packing.write_training_shards(df, str(dest), n_shards=4)
    shards = sorted(p.name for p in Path(dest).glob("shard=*"))
    assert shards == ["shard=0", "shard=1", "shard=2", "shard=3"]

    back = spark.read.parquet(str(dest))
    assert back.count() == 200
    assert back.select("seq_id").distinct().count() == 200

    first = {
        (r.seq_id, r.shard) for r in back.select("seq_id", "shard").collect()
    }
    # re-run into a second directory: identical assignment
    packing.write_training_shards(df, str(tmp_path / "shards2"), n_shards=4)
    second = {
        (r.seq_id, r.shard)
        for r in spark.read.parquet(str(tmp_path / "shards2"))
        .select("seq_id", "shard").collect()
    }
    assert first == second


def test_training_pipeline_end_to_end(spark, tmp_path, catalog):
    """The full training-data path composed from the operators: quality
    filter → exact dedup → token count → FFD packing → sequence
    materialization → deterministic shard export → read-back checks."""
    from pathlib import Path

    from pyspark.sql import functions as F

    from coolplaydruid_spark.operators import dedup, packing, text

    docs = catalog.table("documents")
    # 1. quality filter
    q = text.quality_score(docs).where(F.col("quality_score") > 0.3).select("doc_id")
    kept = docs.join(q, on="doc_id")
    # 2. exact dedup (keep survivor ids)
    survivors = dedup.exact_dedup(kept).select(
        F.col("survivor_id").alias("doc_id")
    )
    kept = kept.join(survivors, on="doc_id")
    # 3. pack into 512-token sequences
    counts = text.token_count(kept)
    bins = packing.pack_sequences(counts, budget=512)
    # 4. materialize sequence text
    seqs = packing.materialize_sequences(bins, kept)
    # 5. export 4 shards
    dest = tmp_path / "shards"
    packing.write_training_shards(seqs, str(dest), n_shards=4)

    back = spark.read.parquet(str(dest))
    n_docs_in = kept.count()
    assert back.agg(F.sum("n_docs")).collect()[0][0] == n_docs_in  # exact cover
    assert back.where(F.col("seq_text") == "").count() == 0
    assert sorted(p.name for p in Path(dest).glob("shard=*")) == [
        "shard=0", "shard=1", "shard=2", "shard=3",
    ]
    # every sequence respects the budget unless it is a single oversized doc
    bad = back.where((F.col("total_tokens") > 512) & (F.col("n_docs") > 1)).count()
    assert bad == 0
    # separator count ties out: n_docs-1 separators per sequence
    seps = back.select(
        (F.size(F.split("seq_text", "\n\n", -1)) - 1).alias("s"), "n_docs"
    )
    assert seps.where(F.col("s") < F.col("n_docs") - 1).count() == 0


# ---- round-4 additions ---------------------------------------------------


def test_minhash_incremental_matches_full_cross_pairs(engine):
    """Signatures are a pure per-document function, so the incremental
    (new x corpus) pairs must equal the full self-dedup's pairs
    restricted to cross-side ones."""
    docs = engine.catalog.table("documents")
    new = docs.where(F.col("doc_id") % 5 == 0)
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    inc = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.minhash_lsh_dedup_incremental(
            new, corpus, threshold=0.3
        ).collect()
    }
    full = dedup.minhash_lsh_dedup(docs, threshold=0.3).collect()
    cross = {
        # incremental reports (corpus_id, new_id); full reports doc_a < doc_b
        (r.doc_a, r.doc_b, r.jaccard) if r.doc_a % 5 != 0 else (r.doc_b, r.doc_a, r.jaccard)
        for r in full
        if (r.doc_a % 5 == 0) != (r.doc_b % 5 == 0)
    }
    assert inc == cross
    assert all(a % 5 != 0 and b % 5 == 0 for a, b, _ in inc)


def test_cap_per_group_deterministic(engine):
    from coolplaydruid_spark.operators import sampling

    docs = engine.catalog.table("documents")
    capped = sampling.cap_per_group(docs, "source", 7)
    sizes = {r.source: r.n for r in capped.groupBy("source").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    base = {r.source: r.n for r in docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    for src, n in base.items():
        assert sizes.get(src, 0) == min(7, n)
    # identical selection on re-run (hash order, not scan order)
    ids1 = sorted(r.doc_id for r in capped.select("doc_id").collect())
    ids2 = sorted(r.doc_id for r in sampling.cap_per_group(
        docs, "source", 7).select("doc_id").collect())
    assert ids1 == ids2


def test_char_entropy_known_values(spark):
    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "ab"), (3, "abcd"), (4, ""), (5, "!!!!"), (6, None)],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.char_entropy for r in text.char_entropy(df).collect()}
    assert got[1] == 0.0          # single symbol
    assert got[2] == 1.0          # two equiprobable symbols
    assert got[3] == 2.0          # four equiprobable symbols
    assert got[4] == 0.0          # empty
    assert got[5] == 0.0          # nothing in alphabet
    assert got[6] == 0.0          # null text


def test_duplicate_chunk_ratio_synthetic(spark):
    from coolplaydruid_spark.operators import chunking

    shared = "alpha beta gamma delta"
    df = spark.createDataFrame(
        [(1, shared), (2, shared), (3, "unique words only here")],
        "doc_id long, text string",
    )
    # window=4/stride=4: each doc is exactly one chunk
    out = {r.doc_id: (r.n_chunks, r.dup_ratio)
           for r in chunking.duplicate_chunk_ratio(
               df, window=4, stride=4).collect()}
    assert out[1] == (1, 1.0) and out[2] == (1, 1.0)
    assert out[3] == (1, 0.0)


def test_unigram_logprob_score_known_values(spark):
    import math

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "c c b")], "doc_id long, text string"
    )
    # full vocab: p(a)=2/6, p(b)=2/6, p(c)=2/6
    full = {r.doc_id: (r.n_tokens, r.nll_per_token)
            for r in text.unigram_logprob_score(df).collect()}
    third = -math.log2(2 / 6)
    assert full[1] == (3, round(third, 6))
    assert full[2] == (3, round(third, 6))
    # vocab_size=2 keeps a,b (count ties broken lexicographically);
    # c becomes OOV with floor probability 1/6
    capped = {r.doc_id: (r.n_tokens, r.nll_per_token)
              for r in text.unigram_logprob_score(df, vocab_size=2).collect()}
    assert capped[1] == (3, round(third, 6))
    expect2 = round((-2 * math.log2(1 / 6) - math.log2(2 / 6)) / 3, 6)
    assert capped[2] == (3, expect2)


def test_minhash_incremental_precomputed_corpus_shingles(engine):
    """The production path: corpus shingles materialized once at accept
    time and passed in — must give identical pairs to the recompute path."""
    docs = engine.catalog.table("documents")
    new = docs.where(F.col("doc_id") % 5 == 0)
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    pre = dedup.shingles(corpus, as_hash=True)
    a = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.minhash_lsh_dedup_incremental(
            new, corpus_shingles=pre, threshold=0.3
        ).collect()
    )
    b = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.minhash_lsh_dedup_incremental(
            new, corpus, threshold=0.3
        ).collect()
    )
    assert a == b


def test_random_projection_norm_and_determinism(spark):
    """Every one-hot input maps to a vector of exact L2 norm 1 under a
    Rademacher/sqrt(d) projection (each component is ±1/sqrt(d)), and the
    matrix is a pure function of the seed."""
    from coolplaydruid_spark.operators import embeddings as emb

    one_hots = [(i, [1.0 if j == i else 0.0 for j in range(8)]) for i in range(8)]
    df = spark.createDataFrame(one_hots, "vec_id long, embedding array<double>")
    out = emb.random_projection(df, in_dim=8, out_dim=4).collect()
    for r in out:
        assert abs(sum(x * x for x in r.proj) - 1.0) < 1e-4
        assert all(abs(abs(x) - 0.5) < 1e-6 for x in r.proj)  # ±1/sqrt(4)
    assert emb.rademacher_signs(8, 4) == emb.rademacher_signs(8, 4)
    assert emb.rademacher_signs(8, 4, seed="a") != emb.rademacher_signs(8, 4, seed="b")


def test_random_projection_wrong_dim_raises(spark):
    import pytest as _pytest

    from coolplaydruid_spark.operators import embeddings as emb

    df = spark.createDataFrame(
        [(1, [1.0] * 7)], "vec_id long, embedding array<double>"
    )
    with _pytest.raises(Exception, match="expected 8-dim"):
        emb.random_projection(df, in_dim=8, out_dim=2).collect()


# ---------------------------------------------------------------------------
# Round-8 wave-2 operators: dup-ngram stats, Gopher filter, nearest
# centroid, hybrid RRF, perplexity buckets.
# ---------------------------------------------------------------------------


def test_ngrams_helper(spark):
    import pytest

    df = spark.createDataFrame([(1, "a bb ccc dddd")], "doc_id long, text string")
    row = df.select(
        text.ngrams(text.tokens(F.col("text")), 1).alias("g1"),
        text.ngrams(text.tokens(F.col("text")), 3).alias("g3"),
        text.ngrams(text.tokens(F.col("text")), 5).alias("g5"),
    ).collect()[0]
    assert row["g1"] == ["a", "bb", "ccc", "dddd"]
    assert row["g3"] == ["a bb ccc", "bb ccc dddd"]
    assert row["g5"] == []  # fewer than n tokens
    with pytest.raises(ValueError):
        text.ngrams(F.col("text"), 0)
    # review pin: a NULL raw array normalizes to [] on the n=1 path too
    null_arr = spark.createDataFrame(
        [(1, None)], "doc_id long, arr array<string>"
    )
    assert null_arr.select(text.ngrams(F.col("arr"), 1).alias("g")).collect()[0]["g"] == []


def test_dup_ngram_stats_edge_cases(spark):
    docs = spark.createDataFrame(
        [
            (1, "a a a a"),          # every bigram AND trigram duplicated
            (2, "x y z x y"),        # "x y" ×2 of 4 bigrams; trigrams unique
            (3, "solo"),             # no grams at all
            (4, ""),                 # empty
            (5, None),               # null == empty
            (6, "aaaa b c aaaa b"),  # length-weighted: 12 of 21 bigram chars
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (
            r["n_2grams"], r["dup_2gram_char_frac"],
            r["n_3grams"], r["dup_3gram_char_frac"],
        )
        for r in text.dup_ngram_stats(docs).collect()
    }
    assert got[1] == (3, 1.0, 2, 1.0)
    # doc 2 bigrams: "x y"×2 (3 chars each), "y z", "z x" → 6/12
    assert got[2] == (4, 0.5, 3, 0.0)
    assert got[3] == (0, 0.0, 0, 0.0)
    assert got[4] == (0, 0.0, 0, 0.0)
    assert got[5] == (0, 0.0, 0, 0.0)
    # doc 6 bigrams: "aaaa b"×2 (6 chars), "b c" (3), "c aaaa" (6) → 12/21
    assert got[6] == (4, round(12 / 21, 6), 3, 0.0)


def test_dup_ngram_stats_map_only(engine):
    """One map-only pass — no aggregation/join shuffle anywhere (the
    100 TB cost is the scan). The expr fold is exchange-free outright;
    the arrow path may carry AT MOST spread()'s one doc-id hash
    repartition (narrow test fixture — wide scans pass through), never
    a second exchange."""
    df = text.dup_ngram_stats(engine.catalog.table("documents"),
                              impl="expr")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    df = text.dup_ngram_stats(engine.catalog.table("documents"),
                              impl="arrow")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 1
    if "Exchange" in plan:
        assert "Exchange hashpartitioning(doc_id" in plan


def test_dup_ngram_stats_arrow_matches_expr(engine, spark):
    """r15 focused gate for the Arrow counting kernel (r14 verdict #1):
    impl='arrow' ≡ impl='expr' row-for-row — same exact integer gram
    counts, same rounded fractions — on the fixture corpus AND the
    edge-case docs (empty/null/short/unicode/repeat-heavy), for the
    contract's ns=(2,3) and the n=1 degenerate order."""
    edge = spark.createDataFrame(
        [(1, "a a a a"), (2, "x y z x y"), (3, "solo"), (4, ""),
         (5, None), (6, "aaaa b c aaaa b"), (7, "héé héé ¡é! 漢字 漢字"),
         (8, "  padded   whitespace\truns  "), (9, "a b a b a b a")],
        "doc_id long, text string")
    for docs in (engine.catalog.table("documents"), edge):
        for ns in ((2, 3), (1,)):
            key = lambda r: tuple(r[c] for c in r.__fields__)  # noqa: E731
            arrow = sorted(map(key, text.dup_ngram_stats(
                docs, ns=ns, impl="arrow").collect()))
            expr = sorted(map(key, text.dup_ngram_stats(
                docs, ns=ns, impl="expr").collect()))
            assert arrow == expr and arrow


def test_gopher_filter_rules(spark):
    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat with a dog and a fish"),  # passes
            (2, "short text"),                                    # too few words
            (3, "no stop word token list here people talk lots"), # no stopwords
            (4, "# # # the # # and # # # of # #"),                # symbols
            (5, "1 2 3 4 5 6 7 8 the and"),                       # alpha frac
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["fail_reasons"], r["passes"])
        for r in text.gopher_quality_filter(
            docs, min_words=5, max_words=50, min_mean_word_len=1.0,
            max_mean_word_len=10.0, min_stop_hits=2,
        ).collect()
    }
    assert got[1] == ("", True)
    assert got[2] == ("too_few_words,stopwords", False)
    assert got[3] == ("stopwords", False)
    assert got[4][0] == "symbol_ratio,alpha_frac"  # mostly-'#' tokens fail both
    assert got[5][0] == "alpha_frac"
    # reason order is fixed regardless of which rule is "worse"
    assert got[2][0].startswith("too_few_words")


def test_gopher_filter_map_only(engine):
    df = text.gopher_quality_filter(engine.catalog.table("documents"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_nearest_centroid_assignment_and_ties(spark):
    cent = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "centroid_id long, embedding array<double>",
    )
    pts = spark.createDataFrame(
        [
            (10, [1.0, 0.1]),   # → centroid 0
            (11, [0.1, 1.0]),   # → centroid 1
            (12, [1.0, 1.0]),   # equal cosine to both → lowest id wins
        ],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: (r["centroid_id"], r["cosine"])
        for r in similarity.nearest_centroid(pts, cent).collect()
    }
    assert got[10][0] == 0 and got[11][0] == 1
    assert got[12] == (0, 0.707107)  # tie on rounded cosine → centroid 0
    assert got[10][1] == got[11][1]  # symmetric cosines


def test_nearest_centroid_string_ids_tie_deterministic(spark):
    """r8 advice: a STRING centroid id must keep the lowest-id tie-break
    (the old negated-id ordering silently NULLed on strings)."""
    cent = spark.createDataFrame(
        [("b", [1.0, 0.0]), ("a", [0.0, 1.0]), ("c", [0.0, 1.0])],
        "centroid_id string, embedding array<double>",
    )
    pts = spark.createDataFrame(
        [(1, [1.0, 1.0]), (2, [0.0, 2.0])],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: r["centroid_id"]
        for r in similarity.nearest_centroid(pts, cent).collect()
    }
    assert got[1] == "a"  # three-way cosine tie → lexicographically least
    assert got[2] == "a"  # 'a'/'c' exact tie → 'a'


def test_nearest_centroid_plan_no_window(engine):
    """argmax is max_by partial aggregation, not a window sort; the
    centroid side is broadcast."""
    emb = engine.catalog.table("embeddings")
    cent = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    df = similarity.nearest_centroid(emb.where(F.col("vec_id") >= 8), cent)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "BroadcastExchange" in plan


def test_hybrid_rrf_fusion_math(engine):
    from coolplaydruid_spark.operators import retrieval

    rows = retrieval.hybrid_rrf_topk(
        engine.catalog.table("documents"), engine.catalog.table("embeddings"),
        "spark join filter", query_id=0, top_k=15, pool=50, rrf_k=60,
    ).collect()
    assert len(rows) == 15
    assert all(r["doc_id"] != 0 for r in rows)  # query doc excluded
    for r in rows:
        terms = [
            1.0 / (60 + rank)
            for rank in (r["bm25_rank"], r["cosine_rank"])
            if rank is not None
        ]
        assert terms, "a fused row must come from at least one ranking"
        assert r["rrf_score"] == round(sum(terms), 6)
        for rank in (r["bm25_rank"], r["cosine_rank"]):
            assert rank is None or 1 <= rank <= 50
    # fused-by-both rows outrank single-ranking rows of the same depths
    both = [r for r in rows if r["bm25_rank"] and r["cosine_rank"]]
    assert both, "pool=50 over 500 docs must produce overlap"


def test_perplexity_buckets_partition_corpus(engine):
    import pytest

    docs = engine.catalog.table("documents")
    rows = text.perplexity_buckets(docs, vocab_size=100).collect()
    by = {r["bucket"]: r for r in rows}
    assert set(by) == {"head", "middle", "tail"}
    scored = docs.where(F.length(F.trim(F.coalesce(F.col("text"), F.lit("")))) > 0)
    assert sum(r["n_docs"] for r in rows) == scored.count()
    # quantile split: bucket NLL ranges are ordered and non-overlapping
    assert by["head"]["max_nll"] <= by["middle"]["min_nll"]
    assert by["middle"]["max_nll"] <= by["tail"]["min_nll"]
    with pytest.raises(ValueError):
        text.perplexity_buckets(docs, qs=(0.5,), labels=("a", "b", "c"))


def test_quality_mixture_composition(engine):
    import pytest

    from coolplaydruid_spark.operators import sampling

    docs = engine.catalog.table("documents")
    full = {"head": 1.0, "middle": 1.0, "tail": 1.0}
    kept_all = sampling.quality_mixture(docs, rates=full)
    labels = text.perplexity_bucket_labels(docs)
    # rate-1.0 everywhere keeps exactly the labelled corpus
    assert kept_all.count() == labels.count()
    # nested property: the 10% gate is a subset of the 50% gate
    lo = sampling.quality_mixture(docs, rates={"head": 0.1, "middle": 0.0, "tail": 0.0})
    hi = sampling.quality_mixture(docs, rates={"head": 0.5, "middle": 0.0, "tail": 0.0})
    lo_ids = {r["doc_id"] for r in lo.collect()}
    hi_ids = {r["doc_id"] for r in hi.collect()}
    assert lo_ids <= hi_ids
    # head-only gates never emit other buckets
    assert {r["bucket"] for r in hi.collect()} <= {"head"}
    with pytest.raises(ValueError):
        sampling.quality_mixture(docs, rates={"head": 1.5, "middle": 0, "tail": 0})
    with pytest.raises(ValueError):
        sampling.quality_mixture(docs, rates={"bogus": 0.5})
    # review pin: a MISSING bucket key must raise, not silently drop it
    with pytest.raises(ValueError):
        sampling.quality_mixture(docs, rates={"head": 1.0})


def test_pmi_top_pairs_collocation(spark):
    from coolplaydruid_spark.operators import corpus

    # "aa bb" always adjacent (perfect collocation); "cc"/"dd" appear
    # often but never adjacent to each other's partner.
    docs = spark.createDataFrame(
        [(i, "aa bb cc " + ("dd " * 3).strip()) for i in range(10)],
        "doc_id long, text string",
    )
    rows = corpus.pmi_top_pairs(docs, k=10, min_count=2).collect()
    by = {r["pair"]: r for r in rows}
    assert "aa bb" in by
    # P(aa bb) = P(aa) = P(bb): pmi = log2(P_tot/ (c/T)^2 * ...) > pmi of
    # the frequent-but-independent "dd dd" transition
    assert by["aa bb"]["pmi"] > by["dd dd"]["pmi"]
    # min_count floor: every returned pair occurs at least twice
    assert all(r["n_pair"] >= 2 for r in rows)
    # ordering: pmi non-increasing
    pmis = [r["pmi"] for r in rows]
    assert pmis == sorted(pmis, reverse=True)


def test_pipeline_quality_corpus_filters_bite(spark):
    """The composed v2 pipeline must actually filter: survivors < corpus,
    all three buckets present, head kept whole relative to its gate."""
    from coolplaydruid_spark import contract

    from tests.conftest import SF_DIR

    rows = contract.QUERIES["pipeline_quality_corpus"](spark, SF_DIR).collect()
    by = {r["bucket"]: r for r in rows}
    assert set(by) == {"head", "middle", "tail"}
    total_kept = sum(r["n_docs"] for r in rows)
    n_docs = contract.engine_for(spark, SF_DIR).catalog.table("documents").count()
    assert 0 < total_kept < n_docs
    # thinning rates order the bucket survival (head gate 1.0 keeps all
    # of its tercile; the terciles are near-equal thirds of survivors)
    assert by["head"]["n_docs"] >= by["middle"]["n_docs"] >= by["tail"]["n_docs"]


def test_pipeline_llm_corpus_every_stage_prunes(spark):
    """The composed end-to-end corpus build (r12 verdict #4) is only
    evidence if its stages actually BITE at gate scale: minhash,
    Gopher, semantic dedup, decontamination, and mixture thinning must
    each strictly shrink the survivor set (the fixture holds no exact
    duplicates, so the exact stage is cover-preserving by construction
    — asserted, not waived), and the packed form must cover exactly
    the selected docs."""
    from coolplaydruid_spark import contract

    from tests.conftest import SF_DIR

    stages = contract._spark_llm_corpus_stages(spark, SF_DIR)
    n = {k: stages[k].count() for k in ("d1", "d2", "d3", "d4", "d5", "kept")}
    raw = contract.engine_for(spark, SF_DIR).catalog.table("documents").count()
    assert n["d1"] == raw  # fixture has no exact dups; cover preserved
    assert raw > n["d2"] > n["d3"] > n["d4"] > n["d5"] > n["kept"] > 0, n
    # packed output covers exactly the selected docs
    packed = contract.QUERIES["pipeline_llm_corpus_packed"](
        spark, SF_DIR).collect()
    placed = sorted(d for r in packed for d in r["doc_ids"])
    kept_ids = sorted(r["doc_id"] for r in stages["kept"].collect())
    assert placed == kept_ids
    assert all(r["total_tokens"] <= 128 or r["n_docs"] == 1 for r in packed)


def test_wave2_ops_on_empty_corpus(spark):
    """A staged pipeline can hand any of these an EMPTY survivor set
    (every doc filtered upstream) — each must return an empty frame
    with its normal schema, not raise. perplexity thresholds come back
    NULL on an empty corpus; the label CASE never evaluates."""
    from coolplaydruid_spark.operators import corpus as corpus_ops
    from coolplaydruid_spark.operators import retrieval, sampling, similarity

    docs = spark.createDataFrame([], "doc_id long, text string")
    emb = spark.createDataFrame([], "vec_id long, embedding array<double>")

    assert text.dup_ngram_stats(docs).count() == 0
    assert text.gopher_quality_filter(docs).count() == 0
    assert text.perplexity_bucket_labels(docs).count() == 0
    assert text.perplexity_buckets(docs).count() == 0
    assert sampling.quality_mixture(docs).count() == 0
    assert corpus_ops.pmi_top_pairs(docs).count() == 0
    assert similarity.nearest_centroid(emb, emb.withColumnRenamed(
        "vec_id", "centroid_id")).count() == 0
    assert retrieval.hybrid_rrf_topk(docs, emb, "spark join", query_id=0).count() == 0


def test_source_overlap_matrix_synthetic(spark):
    from coolplaydruid_spark.operators import corpus as corpus_ops

    # s1/s2 share exactly the shingle "a b c" (plus distinct ones);
    # s3 shares nothing with anyone.
    docs = spark.createDataFrame(
        [
            (1, "a b c x1 y1", "s1"),
            (2, "a b c x2 y2", "s2"),
            (3, "q r s t u", "s3"),
        ],
        "doc_id long, text string, source string",
    )
    rows = corpus_ops.source_overlap_matrix(docs, group_col="source").collect()
    assert len(rows) == 1  # only the s1/s2 pair overlaps
    r = rows[0]
    assert (r["group_a"], r["group_b"], r["n_shared"]) == ("s1", "s2", 1)
    # |S1| = |S2| = 3 shingles each, 1 shared -> 1/5
    assert r["jaccard"] == 0.2


def test_nearest_centroid_null_cosine_never_wins(spark):
    """r9 review find: the min_by rewrite made a NULL cosine (null
    vector element, or zero-norm 0/0 under non-ANSI) sort FIRST in the
    ordering struct, so a degenerate centroid won EVERY assignment.
    NULL must lose to any real score (old max_by behavior)."""
    cent = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [None, 0.5]), (3, [0.0, 1.0])],
        "centroid_id long, embedding array<double>",
    )
    pts = spark.createDataFrame(
        [(10, [1.0, 0.2]), (11, [0.2, 1.0])],
        "vec_id long, embedding array<double>",
    )
    got = {r["vec_id"]: r["centroid_id"]
           for r in similarity.nearest_centroid(pts, cent).collect()}
    assert got == {10: 1, 11: 3}


def test_semantic_incremental_is_cross_restriction_of_full(engine):
    """Incremental batch×corpus pairs must be EXACTLY the full
    within-cell pairs restricted to (corpus, batch) endpoints — the
    corpus never self-pairs, the batch never self-pairs."""
    emb = engine.catalog.table("embeddings").limit(200)
    cent = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding")
    full = {(r["id_a"], r["id_b"]): r["cosine"]
            for r in dedup.semantic_dedup_pairs(emb, cent, threshold=0.3).collect()}
    incr = {(r["id_a"], r["id_b"]): r["cosine"]
            for r in dedup.semantic_dedup_pairs_incremental(
                emb.where(F.col("vec_id") % 5 == 0), cent,
                corpus_df=emb.where(F.col("vec_id") % 5 != 0),
                threshold=0.3, check_disjoint=True).collect()}
    # full pairs are id_a < id_b; incremental is (corpus, batch) — fold
    # both into frozensets for comparison
    want = {frozenset(p): c for p, c in full.items()
            if (p[0] % 5 == 0) != (p[1] % 5 == 0)}
    assert {frozenset(p): c for p, c in incr.items()} == want
    assert incr, "no cross pair at threshold 0.3 — test lost its teeth"
    for a, b in incr:
        assert a % 5 != 0 and b % 5 == 0


def test_semantic_incremental_check_disjoint_raises(engine):
    emb = engine.catalog.table("embeddings").limit(50)
    cent = [(0, [1.0] * 8)]
    import pytest as _pytest
    with _pytest.raises(ValueError, match="BOTH sides"):
        dedup.semantic_dedup_pairs_incremental(
            emb, cent, corpus_df=emb, threshold=0.9, check_disjoint=True)
    with _pytest.raises(ValueError, match="corpus_cells lacks"):
        dedup.semantic_dedup_pairs_incremental(
            emb, cent, corpus_cells=emb.select("vec_id"), threshold=0.9)


def test_semantic_cells_assignment_is_map_only(engine):
    """The SemDeDup assignment must stay a pure projection over the scan
    — centroid literals folded into the plan, no join, no exchange, no
    Python stage (the 100 TB contract for the map half)."""
    emb = engine.catalog.table("embeddings")
    cells = dedup.semantic_cells(emb, [(i, [0.1 * (i + 1)] * 8)
                                       for i in range(4)])
    plan = cells._jdf.queryExecution().executedPlan().toString()
    for banned in ("Exchange", "Join", "InMemoryTableScan", "MapInPandas",
                   "BatchEvalPython", "ArrowEvalPython"):
        assert banned not in plan, f"{banned} in semantic_cells plan:\n{plan}"


def test_semantic_cells_arrow_matches_jvm_exactly(engine):
    """impl='arrow' (batch numpy matmul) must be value-identical to
    impl='jvm' (pure Column expressions) on real fixture embeddings at
    a production-ish cell count — same rounded cosine, same tie rule."""
    emb = engine.catalog.table("embeddings")
    cents = [(i, [((i * 7 + j * 3) % 11 - 5) / 5.0 for j in range(64)])
             for i in range(40)]
    jvm = {(r["vec_id"]): (r["__cell"], r["__cell_cos"])
           for r in dedup.semantic_cells(emb, cents, impl="jvm").collect()}
    arrow = {(r["vec_id"]): (r["__cell"], r["__cell_cos"])
             for r in dedup.semantic_cells(emb, cents, impl="arrow").collect()}
    assert jvm == arrow
    assert len({c for c, _ in jvm.values()}) > 5, "degenerate cells"


def test_semantic_cells_arrow_null_and_corner_semantics(spark):
    """Null vector / null element land in the lowest-cid cell with NULL
    cosine on BOTH paths; the arrow path refuses zero-norm vectors
    loudly (its one documented divergence: it cannot carry a NaN
    cosine)."""
    import pytest as _pytest

    cents = [(3, [1.0, 0.0]), (7, [0.0, 1.0])]
    df = spark.createDataFrame(
        [(1, [0.9, 0.1]), (2, None), (3, [0.5, None])],
        "vec_id long, embedding array<double>")
    for impl in ("jvm", "arrow"):
        got = {r["vec_id"]: (r["__cell"], r["__cell_cos"])
               for r in dedup.semantic_cells(df, cents, impl=impl).collect()}
        assert got[1][0] == 3 and got[1][1] is not None, (impl, got)
        assert got[2] == (3, None), (impl, got)
        assert got[3] == (3, None), (impl, got)
    zero = spark.createDataFrame(
        [(1, [0.0, 0.0])], "vec_id long, embedding array<double>")
    with _pytest.raises(Exception, match="zero-norm|NaN"):
        dedup.semantic_cells(zero, cents, impl="arrow").collect()
    # An infinite element also fails loud (r11 advice: it used to take
    # the null-vector treatment silently while the JVM path computed an
    # infinite cosine that could win the argmax).
    inf = spark.createDataFrame(
        [(1, [float("inf"), 1.0])], "vec_id long, embedding array<double>")
    with _pytest.raises(Exception, match="infinite vector element"):
        dedup.semantic_cells(inf, cents, impl="arrow").collect()


def test_semantic_cells_auto_picks_arrow_above_threshold(engine):
    """auto = arrow above 1024 centroid-floats (a MapInPandas plan),
    jvm below (pure projection plan) — the oracle-gated entries stay on
    the exact JVM path by construction."""
    emb = engine.catalog.table("embeddings").limit(10)
    small = dedup.semantic_cells(emb, [(i, [0.1] * 64) for i in range(8)])
    big = dedup.semantic_cells(emb, [(i, [0.1 * (i % 9 + 1)] * 64)
                                     for i in range(80)])
    assert "mapInPandas" not in small._jdf.queryExecution().executedPlan().toString() \
        and "MapInPandas" not in small._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in big._jdf.queryExecution().executedPlan().toString()
