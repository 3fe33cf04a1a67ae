"""Text-pipeline operator tests: planted duplicates/near-duplicates must be
found, profiles must match hand-computed values, and estimators must agree
with exact recomputation."""

import pytest
from pyspark.sql import Row

from jsl_engine import text_ops as T

DOCS = [
    # two exact duplicates
    (1, "The quick brown fox jumps over the lazy dog. " * 4),
    (2, "The quick brown fox jumps over the lazy dog. " * 4),
    # near-duplicate of 1/2 (one word changed at the end)
    (3, "The quick brown fox jumps over the lazy dog. " * 3 + "The quick brown fox leaps over the lazy dog. "),
    # unrelated english
    (4, "It is a truth universally acknowledged that a single man in possession of a good fortune must be in want of a wife."),
    # german
    (5, "Der Hund ist nicht zu Hause und die Katze ist auch nicht da. Das ist ein Problem."),
    # short junk
    (6, "x"),
    # digits-heavy
    (7, "12345 67890 11111 22222 33333 44444 55555 66666 77777 88888 99999 00000"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in DOCS]).cache()


def test_exact_duplicates(spark, docs):
    kept = T.dedup_exact(docs)
    assert kept.count() == len(DOCS) - 1
    assert kept.where("doc_id = 2").count() == 0  # min id kept


def test_lsh_oversized_bucket_bounds_pairs(spark):
    """A boilerplate bucket larger than max_bucket must contribute ZERO
    candidate pairs (the guard runs before the self-join — without it,
    150 identical docs alone would materialize 150·149/2 ≈ 11k pairs per
    band), while distinct near-dups in small buckets still pair."""
    from jsl_engine.text_ops_arrow import minhash_signatures_arrow

    boiler = [(i, "This file is auto-generated do not edit. " * 6) for i in range(150)]
    near = [
        (1000, "alpha beta gamma delta epsilon zeta eta theta " * 5),
        (1001, "alpha beta gamma delta epsilon zeta eta theta " * 4
               + "alpha beta gamma delta epsilon zeta eta iota "),
    ]
    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in boiler + near])
    sigs = minhash_signatures_arrow(df)
    pairs = T.lsh_candidate_pairs(sigs, max_bucket=64, num_hashes=64).collect()
    ids_in_pairs = {r.id_a for r in pairs} | {r.id_b for r in pairs}
    assert not (ids_in_pairs & set(range(150)))  # boilerplate never pairs
    assert {(r.id_a, r.id_b) for r in pairs} == {(1000, 1001)}

    # guard off (huge max_bucket): the boilerplate group pairs explosively —
    # proves the guard, not the data, is what bounds the output
    unguarded = T.lsh_candidate_pairs(sigs, max_bucket=10**9, num_hashes=64)
    assert unguarded.count() == 150 * 149 // 2 + 1


def _simhash_pairs(df, max_hamming, **kw):
    """The registry query's SimHash pipeline: Arrow signatures through
    the shared pigeonhole tail."""
    from jsl_engine.text_ops_arrow import simhash_arrow

    return {(r.id_a, r.id_b): r.hamming
            for r in T.simhash_pairs_from_hashes(
                simhash_arrow(df), max_hamming=max_hamming, **kw).collect()}


def _hamming(x, y):
    return bin((x ^ y) & (2**64 - 1)).count("1")


def test_simhash_near_duplicates(spark, docs):
    from jsl_engine.text_ops_arrow import simhash_arrow

    sig = {r.doc_id: r.simhash for r in simhash_arrow(docs).collect()}
    out = _simhash_pairs(docs, max_hamming=12)
    assert out.get((1, 2)) == 0  # identical → identical simhash
    # near-dup found, at its true Hamming distance
    assert out.get((1, 3)) == _hamming(sig[1], sig[3])
    assert out.get((2, 3)) == _hamming(sig[2], sig[3])
    assert (4, 5) not in out  # unrelated texts differ


def _planted_corpus(spark):
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
             "theta", "iota", "kappa", "lam", "mu", "nu", "xi", "omicron",
             "pi", "rho", "sigma", "tau", "upsilon"]
    rows = []
    for p in range(40):
        base = " ".join(words[(p + i * 7) % 20] + str((p * 31 + i) % 97)
                        for i in range(60))
        var = base.replace(words[p % 20] + str((p * 31) % 97), "CHANGED", 1)
        rows.append(Row(doc_id=2 * p, text=base))
        rows.append(Row(doc_id=2 * p + 1, text=var))
    return spark.createDataFrame(rows)


def test_simhash_pigeonhole_exact_recall(spark):
    """Pigeonhole block banding must find EVERY pair within the Hamming
    budget (100% recall — the guarantee that replaced the probabilistic
    multi-probe formulation) and, because the bit_count verify is exact,
    produce exactly the ground-truth pair set."""
    from jsl_engine.text_ops_arrow import simhash_arrow

    # a NULL-text document has no signature row and never pairs (the
    # NULL-text rule)
    df = _planted_corpus(spark).unionByName(
        spark.createDataFrame([(9999, None)], "doc_id long, text string")
    )
    max_hamming = 8
    sig = {r.doc_id: r.simhash for r in simhash_arrow(df).collect()}
    assert 9999 not in sig and len(sig) == 80
    truth = {
        (a, b): _hamming(sig[a], sig[b])
        for a in sig for b in sig if a < b
        if _hamming(sig[a], sig[b]) <= max_hamming
    }
    got = _simhash_pairs(df, max_hamming)
    assert got == truth
    assert len(truth) >= 20  # the fixture plants real near-dups
    # the kernel finds the overwhelming majority of planted pairs
    planted = {(2 * p, 2 * p + 1) for p in range(40)}
    assert len(set(got) & planted) / len(planted) >= 0.9


def test_simhash_banded_volume_and_bucket_guard(spark):
    """Candidate volume is exactly (max_hamming+1) banded rows per doc,
    and an oversized (block, value) bucket is pruned before the join."""
    df = _planted_corpus(spark)
    # max_bucket=1: every bucket with >= 2 members (i.e. every potential
    # pair) is pruned -> zero output rows, proving the guard sits before
    # the join rather than filtering pairs afterwards
    assert _simhash_pairs(df, max_hamming=8, max_bucket=1) == {}


def test_text_profile_values(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="Ab c.\nd 12!")])
    [r] = T.text_profile(df).collect()
    assert r.n_chars == 11
    assert r.n_tokens == 4  # Ab / c. / d / 12!
    assert r.n_lines == 2
    assert r.punct_ratio == round(2 / 11, 6)  # '.' and '!'
    assert r.digit_ratio == round(2 / 11, 6)
    assert r.upper_ratio == round(1 / 11, 6)


def test_language_id(spark, docs):
    out = {r.doc_id: r.lang_id for r in T.language_id(docs).collect()}
    assert out[4] == "en"
    assert out[5] == "de"
    assert out[6] == "und"


#: One natural paragraph per supported language (marker-bearing for
#: Latin/Cyrillic scripts, script-dominant for the rest).
LANG_FIXTURES = {
    "en": "It was the best of times, and it is clear that the story begins with his journey to the city.",
    "de": "Der alte Mann ging mit dem Hund durch die Stadt und das Wetter war nicht gut, aber er wollte zu seiner Schwester.",
    "fr": "Le petit prince est arrivé dans la ville avec une lettre pour les amis qui ne savaient pas ce que cela voulait dire.",
    "es": "El viejo pescador salió al mar con su barca para buscar los peces que no había visto desde el verano pasado, pero el agua estaba más fría.",
    "pt": "O menino não queria uma resposta simples, mas o pai disse que era melhor esperar em casa com um livro do que sair para a chuva.",
    "it": "Il vecchio professore non era mai stato nella città, ma anche lui sapeva che gli studenti erano più felici nel giardino della scuola.",
    "nl": "De jongen ging met zijn vader naar het park, maar het was niet de bedoeling dat ze voor de regen thuis zouden zijn.",
    "sv": "Det var en kall morgon och han visste inte om det var bäst att stanna hemma eller att gå till skogen med den gamla hunden för att jaga.",
    "da": "Det var en kold morgen, og han vidste ikke, om det var bedst at blive hjemme eller at gå en tur med den gamle hund af sted til byen, for der var ikke meget at lave.",
    "no": "Det var en fin dag, og han gikk til skogen med hunden for å se på fuglene, men det var ikke lett å finne veien tilbake, så han satte seg ned et sted.",
    "fi": "Hän oli jo vanha mies, mutta kun aurinko nousi, hän tiesi että tämä päivä ei ollut niin kuin muut, ja se oli myös hyvä asia.",
    "pl": "To nie jest tak, że po zimie wszystko się kończy, ale jak na wiosnę przyjdzie słońce, to jego ogród znowu będzie pełen kwiatów i ptaków, co cieszy.",
    "cs": "Když jsem byl malý, tak jsme se s bratrem chodili dívat na vlaky, ale po letech už to není to samé, co to bylo, a je mi z toho smutno.",
    "tr": "Bu şehirde çok insan var ama ben daha sakin bir yer için buradan sonra köye gitmek istiyorum, çünkü orada her şey denizden daha güzel gibi.",
    "ro": "În fiecare dimineață el merge pe jos la școală cu sora lui, dar astăzi nu este timp, pentru că autobuzul care vine din sat a plecat mai devreme și ei sunt acasă.",
    "hu": "Az öreg ember már nem volt fiatal, de az is igaz, hogy egy ilyen szép napon csak el kell menni a folyóhoz, mert ez meg nem történik mint régen.",
    "id": "Pada pagi hari itu dia pergi ke pasar dengan ibunya untuk membeli sayur dan buah, tetapi tidak ada yang segar dari kebun, jadi mereka akan kembali dalam minggu ini juga.",
    "vi": "Hôm nay trời đẹp và những người trong làng đã ra đồng từ sáng sớm, có một vài đứa trẻ không muốn đi học, cho nên mẹ của chúng phải nhắc với các thầy cô khi đến trường này.",
    "ru": "Он вышел из дома рано утром, но на улице было так холодно, что он решил вернуться и выпить чаю, как это делал его отец, и она была рада, что в доме тепло.",
    "uk": "Він вийшов з дому рано вранці, але на вулиці було так холодно, що він вирішив повернутися і випити чаю, як це робив його батько, і вона була рада, що у домі тепло.",
    "zh": "今天天气很好，我们一家人去公园散步，孩子们在草地上玩耍，老人坐在长椅上聊天，大家都很开心。",
    "ja": "今日は天気がとても良いので、家族みんなで公園へ散歩に行きました。子供たちは芝生で遊んで、とても楽しそうでした。",
    "ko": "오늘은 날씨가 좋아서 가족들과 함께 공원에 산책을 갔습니다. 아이들은 잔디밭에서 놀았고 모두 즐거운 시간을 보냈습니다.",
    "th": "วันนี้อากาศดีมาก ครอบครัวของเราไปเดินเล่นที่สวนสาธารณะ เด็กๆ วิ่งเล่นบนสนามหญ้าอย่างมีความสุข",
    "he": "היום מזג האוויר יפה מאוד, המשפחה שלנו הלכה לטייל בפארק והילדים שיחקו על הדשא בשמחה גדולה.",
    "el": "Σήμερα ο καιρός είναι πολύ καλός, η οικογένειά μας πήγε βόλτα στο πάρκο και τα παιδιά έπαιζαν στο γρασίδι χαρούμενα.",
    "ar": "اليوم الطقس جميل جدا، ذهبت عائلتنا في نزهة إلى الحديقة ولعب الأطفال على العشب بسعادة كبيرة.",
    "hi": "आज मौसम बहुत अच्छा है, हमारा परिवार पार्क में टहलने गया और बच्चे घास पर खुशी से खेल रहे थे।",
}


def test_language_id_fixture_per_language(spark):
    """Every supported language's fixture paragraph must classify
    correctly — script-detected (zh/ja/ko/th/he/el/ar/hi), Cyrillic
    marker-split (ru/uk), and Latin marker argmax for the rest."""
    langs = sorted(LANG_FIXTURES)
    df = spark.createDataFrame(
        [Row(doc_id=i, text=LANG_FIXTURES[lang]) for i, lang in enumerate(langs)]
    )
    out = {r.doc_id: (r.lang_id, r.marker_hits) for r in T.language_id(df).collect()}
    misses = {
        lang: out[i] for i, lang in enumerate(langs) if out[i][0] != lang
    }
    assert not misses, misses


def test_language_id_mixed_and_junk(spark):
    """A mostly-English doc with a couple of CJK chars must stay English
    (script dominance needs >=10% of chars); pure symbols stay und."""
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="The meeting is at the office and it was good to see 中文 mentioned once in the notes that he wrote."),
            Row(doc_id=2, text="!!! ??? *** 12345 +++"),
        ]
    )
    out = {r.doc_id: r.lang_id for r in T.language_id(df).collect()}
    assert out[1] == "en"
    assert out[2] == "und"


def test_token_counts_values(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="Ab c.\nd 12!")])
    [r] = T.token_counts(df).collect()
    assert r.n_ws_tokens == 4
    # letter runs Ab/c/d (3) + digit run 12 (1) + punctuation . ! (2)
    assert r.n_subword_tokens == 6
    assert r.n_chars == 11
    assert r.chars_per_token == round(11 / 6, 6)


def test_quality_score(spark, docs):
    q = {r.doc_id: r.quality for r in T.quality_score(docs).collect()}
    assert q[4] == 1.0  # clean english prose
    assert q[6] < 0.5  # one-char junk
    assert q[7] <= 0.5  # digits-heavy


def test_fingerprint_whitespace_invariant(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text="a  b\tc"), Row(doc_id=2, text="A b C")]
    )
    out = {r.doc_id: r.fingerprint for r in T.text_profile(df).collect()}
    assert out[1] == out[2]  # case+whitespace-normalized


def test_arrow_minhash_matches_semantics(spark, docs):
    """The Arrow signature kernel finds the planted duplicates/near-dups."""
    from jsl_engine import text_ops_arrow as TA

    # threshold 0.3 with bands=32 (2 rows/band → LSH s* ≈ 0.18): docs 1/3
    # have true Jaccard ≈ 0.64, near the default bands=16/r=4 operating
    # point (s* = 0.5) where a miss has ~20% probability — banding must
    # match the target threshold
    pairs = {(r.id_a, r.id_b): r.est_jaccard
             for r in TA.minhash_near_duplicates_arrow(
                 docs, threshold=0.3, bands=32).collect()}
    assert pairs[(1, 2)] == 1.0  # identical docs
    assert (1, 3) in pairs or (2, 3) in pairs  # near-dup found
    assert all(a < b for a, b in pairs)
    assert not any({4, 5} & {a, b} for a, b in pairs)  # unrelated docs clean


def test_minhash_estimate_tracks_exact_jaccard(spark, docs):
    """The Arrow MinHash estimate of every candidate pair stays within
    the coarse bound of 64 hashes of its exact 5-gram Jaccard."""
    from jsl_engine import text_ops_arrow as TA

    cands = {(r.id_a, r.id_b) for r in TA.minhash_near_duplicates_arrow(
        docs, threshold=0.0).collect()}
    exact_pairs = spark.createDataFrame(
        [Row(id_a=a, id_b=b) for a, b in cands])
    exact = {(r.id_a, r.id_b): r.jaccard
             for r in T.ngram_jaccard(docs, exact_pairs, n=5).collect()}
    est = {(r.id_a, r.id_b): r.est_jaccard
           for r in TA.minhash_near_duplicates_arrow(docs, threshold=0.0).collect()}
    for k, e in est.items():
        assert abs(e - exact[k]) < 0.35, (k, e, exact[k])  # 64 hashes → coarse


def test_arrow_simhash_near_dup_behavior(spark, docs):
    """Arrow SimHash: identical docs collide exactly; near-dups land at
    small Hamming distance; unrelated docs do not."""
    import pyspark.sql.functions as F
    from jsl_engine import text_ops_arrow as TA

    h = {r.doc_id: r.simhash for r in TA.simhash_arrow(docs).collect()}
    assert h[1] == h[2]
    ham = bin((h[1] ^ h[3]) & (2**64 - 1)).count("1")
    assert ham <= 12
    ham_far = bin((h[4] ^ h[5]) & (2**64 - 1)).count("1")
    assert ham_far > 12


def test_arrow_shingle_hashes_are_64_bit():
    """The Arrow base hash must populate the full 64-bit space: the old
    crc32-then-splitmix64 scheme was a bijection of a 32-bit value, so at
    most 2^32 distinct fingerprints could ever exist — saturating the
    global winnowing join keys at corpus scale. 200k distinct shingles
    must produce 200k distinct hashes AND spread over (not collapse
    into) the 32-bit-image subset: with only 2^32 reachable values the
    birthday bound makes ~5 collisions likely; a full 64-bit image makes
    any collision a 1-in-10^9 event."""
    import numpy as np
    from jsl_engine.text_ops_arrow import _shingle_hashes

    hs = []
    for d in range(2000):
        text = " ".join(f"w{d}x{i}" for i in range(104))
        hs.append(_shingle_hashes(text, 5))
    allh = np.concatenate(hs)
    assert len(allh) == 200_000
    assert len(np.unique(allh)) == 200_000
    # the high and low 32-bit halves must both carry entropy
    assert len(np.unique(allh >> np.uint64(32))) > 190_000
    assert len(np.unique(allh & np.uint64(0xFFFFFFFF))) > 190_000


def test_arrow_shingle_hashes_content_identity():
    """Equal shingles hash equal across documents/positions; shingle
    multiplicity is preserved; short docs yield their single clipped
    shingle."""
    import numpy as np
    from jsl_engine.text_ops_arrow import _shingle_hashes

    a = _shingle_hashes("one two three four five six", 5)   # 2 shingles
    b = _shingle_hashes("zero one two three four five", 5)  # shifted window
    assert a[0] in b  # "one two three four five" appears in both
    rep = _shingle_hashes("a b a b a b a b", 3)
    assert len(rep) == 6 and len(np.unique(rep)) == 2  # multiplicity kept
    short = _shingle_hashes("just three words", 5)
    assert len(short) == 1


_WINNOW_SHARED = "the quick brown fox jumps over the lazy dog near the river bank today"
_WINNOW_ROWS = [
    (1, "intro about databases and engines. " + _WINNOW_SHARED + " closing words here."),
    (2, "completely different opening sentence. " + _WINNOW_SHARED + " unrelated tail text."),
    (3, "nothing in common with the others at all, just some filler prose."),
    (4, "nothing in common with the others at all, just some filler prose."),
]


def _fingerprint_sets(flat):
    fps = {}
    for r in flat.collect():
        fps.setdefault(r.doc_id, set()).add(r.fp)
    return fps


def test_winnowing_shared_passage_guarantee(spark):
    """The winnowing guarantee: a shared passage of >= window+k-1 words
    yields shared fingerprints; identical docs identical sets; disjoint
    docs disjoint — and the overlap pipeline finds the planted
    containment pair, which MinHash near-dup misses."""
    from jsl_engine import text_ops_arrow as TA

    df = spark.createDataFrame(_WINNOW_ROWS, "doc_id long, text string")
    fps = _fingerprint_sets(TA.winnow_flat_arrow(df))
    assert fps[1] & fps[2]  # shared passage -> shared fingerprint
    assert fps[3] == fps[4]  # identical docs -> identical sets
    assert not (fps[1] & fps[3])

    pairs = {(r.id_a, r.id_b): r.n_shared
             for r in TA.fingerprint_overlap_pairs_arrow(df, min_shared=2).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2
    assert (3, 4) in pairs
    assert (1, 3) not in pairs and (1, 4) not in pairs

    # the containment case MinHash misses: full-doc Jaccard of 1 vs 2 is
    # low (different intros/tails), so near-dup at 0.5 finds nothing
    mh = TA.minhash_near_duplicates_arrow(
        df.where("doc_id in (1,2)"), threshold=0.5
    )
    assert not [r for r in mh.collect() if (r.id_a, r.id_b) == (1, 2)]


def test_arrow_winnowing_guarantee(spark):
    """Row-level rules of the Arrow winnowing kernel: a NULL-text
    document has no fingerprint row and never pairs; a document shorter
    than ``window`` shingles keeps exactly one fingerprint (its minimum
    shingle hash), so it can still pair; and the input fan-out does not
    change a single fingerprint row."""
    from jsl_engine import text_ops_arrow as TA

    df = spark.createDataFrame(
        _WINNOW_ROWS + [(5, None), (6, "tiny doc"), (7, "tiny doc")],
        "doc_id long, text string",
    )
    fps = _fingerprint_sets(TA.winnow_flat_arrow(df))
    assert 5 not in fps
    assert len(fps[6]) == 1 and fps[6] == fps[7]

    balanced = sorted(tuple(r) for r in TA.winnow_flat_arrow(df).collect())
    unbalanced = sorted(
        tuple(r) for r in TA.winnow_flat_arrow(df, balance=False).collect()
    )
    assert balanced == unbalanced

    pairs = {(r.id_a, r.id_b)
             for r in TA.fingerprint_overlap_pairs_arrow(df, min_shared=1).collect()}
    assert (6, 7) in pairs
    assert not any(5 in p for p in pairs)


def test_connected_components_multi_hop(spark):
    """Min-label propagation over a 5-chain (needs multiple rounds), a
    separate triangle, and an isolated pair — every vertex must end at
    its component's minimum id."""
    pairs = spark.createDataFrame(
        [Row(id_a=a, id_b=b) for a, b in
         [(10, 11), (11, 12), (12, 13), (13, 14),   # chain 10..14
          (2, 7), (7, 5), (2, 5),                   # triangle {2,5,7}
          (100, 99)]]                                # pair (unordered input)
    )
    got = {r.id: r.component for r in T.connected_components(pairs).collect()}
    assert got == {10: 10, 11: 10, 12: 10, 13: 10, 14: 10,
                   2: 2, 5: 2, 7: 2, 99: 99, 100: 99}


def test_dedup_near_keeps_component_minimum(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"doc {i}") for i in range(8)]
    )
    pairs = spark.createDataFrame(
        [Row(id_a=1, id_b=3), Row(id_a=3, id_b=5), Row(id_a=6, id_b=7)]
    )
    kept = sorted(r.doc_id for r in T.dedup_near(docs, pairs).collect())
    # component {1,3,5} -> keep 1; {6,7} -> keep 6; untouched 0,2,4 stay
    assert kept == [0, 1, 2, 4, 6]


def test_sampling_determinism_and_stability(spark):
    """Stratified sample is identical under repartitioning (the property
    seed-based sample lacks); hash_split never reassigns an existing id
    as the corpus grows."""
    from jsl_engine import sampling as S

    rows = [Row(doc_id=i, lang=["en", "de", "fr"][i % 3]) for i in range(300)]
    df = spark.createDataFrame(rows)
    a = sorted(map(tuple, S.stratified_sample(df, ["lang"], 4).collect()))
    b = sorted(map(tuple,
                   S.stratified_sample(df.repartition(7), ["lang"], 4).collect()))
    assert a == b
    assert len(a) == 12  # 4 per lang x 3 langs
    langs = {}
    for _id, lang in a:
        langs[lang] = langs.get(lang, 0) + 1
    assert langs == {"en": 4, "de": 4, "fr": 4}

    small = {r.doc_id: r.split for r in S.hash_split(df).collect()}
    grown = spark.createDataFrame(
        rows + [Row(doc_id=i, lang="en") for i in range(300, 600)]
    )
    big = {r.doc_id: r.split for r in S.hash_split(grown).collect()}
    assert all(big[k] == v for k, v in small.items())  # never reassigned
    n_eval = sum(1 for v in big.values() if v == "eval")
    assert 0 < n_eval < 100  # ~5% of 600


def _windowed_reference_stratified(df, strata, n, id_col="doc_id"):
    """The pre-round-6 one-window implementation — the deterministic
    contract the scale-safe path must reproduce bit-for-bit."""
    from pyspark.sql import Window, functions as F

    from jsl_engine import sampling as S

    w = Window.partitionBy(*strata).orderBy(
        S.order_hash(id_col, S.SALT_STRATIFIED), F.col(id_col)
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= n)
        .drop("__rk")
    )


def test_stratified_sample_matches_reference_window_bit_for_bit(spark):
    """The round-5 verdict's last scale-killer: the per-stratum rank must
    no longer shuffle the corpus into one reducer per stratum, and the
    batch-local cut + semi-join path must equal the plain window
    bit-for-bit under any repartitioning — including a NULL stratum
    (null-safe join keys), a stratum SMALLER than n (no padding), and a
    wide frame (extra columns ride through the semi-join untouched)."""
    from jsl_engine import sampling as S

    rows = [
        Row(doc_id=i, lang=["en", "de", "fr", None][i % 4], text=f"t{i}")
        for i in range(400)
    ]
    rows += [Row(doc_id=1000 + i, lang="tiny", text="small stratum")
             for i in range(2)]
    # a NULL id hashes to NULL, which the window ranks FIRST (ascending
    # NULLS FIRST) — the cut and the null-safe semi-join must both keep
    # it (round-6 review finding: plain `=` dropped it, and Arrow's
    # default null placement cut the row Spark ranks #1)
    rows.append(Row(doc_id=None, lang="en", text="null id"))
    df = spark.createDataFrame(rows)
    want = sorted(
        map(tuple, _windowed_reference_stratified(df, ["lang"], 5).collect()),
        key=repr,
    )
    for nparts in (1, 7, 32):
        got = sorted(
            map(
                tuple,
                S.stratified_sample(
                    df.repartition(nparts), ["lang"], 5
                ).collect(),
            ),
            key=repr,
        )
        assert got == want, f"nparts={nparts}"
    # the tiny stratum contributes BOTH its rows, the NULL stratum is kept
    langs = {}
    for _id, lang, _t in want:
        langs[lang] = langs.get(lang, 0) + 1
    assert langs == {"en": 5, "de": 5, "fr": 5, None: 5, "tiny": 2}
    assert any(_id is None for _id, _l, _t in want)  # the NULL id won a slot


def test_stratified_sample_seeded_fuzz_vs_reference_window(spark):
    """Seeded fuzz over the scale-safe path: random stratum shapes
    (multi-column strata, NULLs in either column, empty strings, skewed
    and tiny strata, n larger than some strata), each frame pinned
    bit-for-bit against the reference window under a random partition
    count — the same fuzz convention the oracle corners use."""
    import random

    from jsl_engine import sampling as S

    rng = random.Random(20260818)
    for trial in range(4):
        n = rng.choice([1, 3, 7])
        rows = []
        for i in range(rng.randint(50, 500)):
            lang = rng.choice(["en", "de", "fr", "", None])
            src = rng.choice(["a", "b", None])
            rows.append(Row(doc_id=i * 7 + trial, lang=lang, source=src))
        # skew one stratum hard
        rows += [Row(doc_id=10_000 + j, lang="en", source="a")
                 for j in range(rng.randint(0, 300))]
        df = spark.createDataFrame(rows)
        strata = rng.choice([["lang"], ["lang", "source"]])
        want = sorted(
            map(tuple,
                _windowed_reference_stratified(df, strata, n).collect()),
            key=repr,
        )
        got = sorted(
            map(tuple,
                S.stratified_sample(
                    df.repartition(rng.choice([1, 5, 17])), strata, n
                ).collect()),
            key=repr,
        )
        assert got == want, f"trial={trial} strata={strata} n={n}"


def test_stratified_window_input_is_o_partitions_not_o_rows(spark):
    """The row-count gate (round-5 verdict item 1): the rank window's
    input — the pruned narrow frame — must carry ≤ strata × n × batches
    rows, independent of corpus row count."""
    from jsl_engine import sampling as S
    from jsl_engine.partitioning import _topk_cut

    n_parts, n, n_strata = 5, 4, 3
    rows = [Row(doc_id=i, lang=["en", "de", "fr"][i % 3]) for i in range(3000)]
    df = spark.createDataFrame(rows).repartition(n_parts)
    narrow = df.select("lang", "doc_id").withColumn(
        "__h", S.order_hash("doc_id", S.SALT_STRATIFIED)
    )
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1000000")
    try:
        pruned_rows = _topk_cut(
            narrow, ["lang"], [("__h", "asc"), ("doc_id", "asc")], n
        ).count()
    finally:
        if old is not None:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
        else:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    assert pruned_rows <= n_strata * n * n_parts
    assert pruned_rows < df.count()  # it actually cut something


def test_stratified_sample_plan_no_corpus_shuffle(spark):
    """Physical gate: exactly ONE Exchange (the tiny pruned frame's
    strata hash for the rank window) and a broadcast LEFT-SEMI join on
    the corpus side — the corpus is never shuffled."""
    from jsl_engine import sampling as S

    rows = [Row(doc_id=i, lang=["en", "de"][i % 2], text=f"t{i}")
            for i in range(200)]
    df = spark.createDataFrame(rows)
    out = S.stratified_sample(df, ["lang"], 3)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    import re

    shuffles = re.findall(r"\(\d+\) Exchange\b", plan)
    assert len(shuffles) == 1, plan[:3000]
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan[:3000]


def test_simhash_max_hamming_zero_exact_blocking(spark, docs):
    """max_hamming=0 = identical-signature blocking: one full-width
    64-bit block (the all-ones mask is -1 in two's complement — a
    positive 2^64-1 literal would not fit a bigint)."""
    assert _simhash_pairs(docs, max_hamming=0) == {(1, 2): 0}


def test_connected_components_escalates_to_star_on_nonconvergence(
    spark, monkeypatch
):
    """Round-6: non-convergence at max_iterations no longer kills the
    job — the loop falls back to star contraction (diameter-independent)
    with a RuntimeWarning, returning the same labels the propagation
    path would eventually reach."""
    import warnings

    # force the DISTRIBUTED loop (tiny graphs short-circuit to the
    # driver union-find, which has no convergence concept)
    monkeypatch.setattr(T, "DRIVER_COMPONENTS_EDGES", 0)
    chain = spark.createDataFrame(
        [Row(id_a=i, id_b=i + 1) for i in range(12)]
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got = {r.id: r.component
               for r in T.connected_components(chain, max_iterations=3).collect()}
    assert any("escalating to star contraction" in str(w.message)
               for w in caught)
    assert got == {i: 0 for i in range(13)}
    # and converges fine (no warning) when given enough rounds
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        direct = {r.id: r.component
                  for r in T.connected_components(chain, max_iterations=20)
                  .collect()}
    assert not any("escalating to star contraction" in str(w.message)
                   for w in caught)
    assert direct == got


def test_connected_components_driver_and_distributed_agree(spark, monkeypatch):
    """The union-find short-circuit and the label-propagation loop must
    produce identical labels on a mixed clique/chain/triangle graph."""
    edges = [Row(id_a=1, id_b=2), Row(id_a=2, id_b=3),        # chain
             Row(id_a=10, id_b=11), Row(id_a=11, id_b=12),
             Row(id_a=10, id_b=12),                            # triangle
             Row(id_a=20, id_b=21),                            # pair
             Row(id_a=30, id_b=30)]                            # self loop
    df = spark.createDataFrame(edges)
    fast = {(r.id, r.component) for r in T.connected_components(df).collect()}
    monkeypatch.setattr(T, "DRIVER_COMPONENTS_EDGES", 0)
    slow = {(r.id, r.component) for r in T.connected_components(df).collect()}
    assert fast == slow
    assert {c for _, c in fast} == {1, 10, 20, 30}


def test_arrow_shingle_width_validated():
    from jsl_engine.text_ops_arrow import _shingle_hashes

    with pytest.raises(ValueError, match="shingle width"):
        _shingle_hashes("some words here", 65)


def test_sampling_huge_ids_no_overflow(spark):
    """order_hash reduces the id mod 2^31 before multiplying: ids near
    the BIGINT maximum must not overflow under ANSI mode."""
    from jsl_engine import sampling as S

    df = spark.createDataFrame(
        [Row(doc_id=2**62 + i, lang="en") for i in range(10)]
    )
    out = S.stratified_sample(df, ["lang"], 3).collect()
    assert len(out) == 3
    split = S.hash_split(df).collect()
    assert {r.split for r in split} <= {"train", "eval"}


def test_connected_components_scale_shape(spark):
    """20k vertices in 10k two-cliques plus 500 four-chains: converges in
    a handful of rounds (diameter-bound, not size-bound) with correct
    min labels everywhere — the shape a guarded near-dup pair list
    actually has at corpus scale."""
    pairs = [Row(id_a=2 * i, id_b=2 * i + 1) for i in range(10_000)]
    pairs += [Row(id_a=100_000 + 4 * i + j, id_b=100_000 + 4 * i + j + 1)
              for i in range(500) for j in range(3)]
    out = {r.id: r.component
           for r in T.connected_components(spark.createDataFrame(pairs)).collect()}
    assert len(out) == 20_000 + 2_000
    for i in range(0, 20_000, 2):
        assert out[i] == i and out[i + 1] == i
    for i in range(500):
        base = 100_000 + 4 * i
        assert all(out[base + j] == base for j in range(4))


def test_mixture_sample_nested_and_deterministic(spark):
    """Raising a source's rate keeps every previously selected row
    (nested property); selection is repartition-stable; rates track
    realized fractions."""
    from jsl_engine import sampling as S

    df = spark.createDataFrame(
        [Row(doc_id=i, source=f"s{i % 3}") for i in range(3000)]
    )
    low = {r.doc_id for r in S.mixture_sample(df, {"s0": 0.2}, default_rate=0.0).collect()}
    high = {r.doc_id for r in S.mixture_sample(df, {"s0": 0.6}, default_rate=0.0).collect()}
    assert low <= high  # nested
    assert abs(len(low) / 1000 - 0.2) < 0.05
    assert abs(len(high) / 1000 - 0.6) < 0.05
    again = {r.doc_id
             for r in S.mixture_sample(df.repartition(11), {"s0": 0.2},
                                       default_rate=0.0).collect()}
    assert again == low  # partition-stable


def test_mixture_sample_non_dyadic_rate_exact_permille(spark):
    """Non-dyadic rates keep EXACTLY round(rate*1000) permille buckets:
    0.29 must select buckets 0..289 (binary-float 0.29*1000 =
    290.000...06 would keep 291) and 0.57 buckets 0..569 (569.999...9
    would keep 569) — the integer-threshold contract that integer-literal
    oracle SQL relies on."""
    from pyspark.sql import functions as F

    from jsl_engine import sampling as S
    from jsl_engine.sampling import SALT_MIXTURE, order_hash

    df = spark.createDataFrame([Row(doc_id=i, source="s0") for i in range(20000)])
    frac = F.pmod(order_hash("doc_id", SALT_MIXTURE), F.lit(1000))
    for rate in (0.29, 0.57):
        want = df.where(frac < int(round(rate * 1000))).count()
        got = S.mixture_sample(df, {"s0": rate}).count()
        assert got == want, f"rate={rate}: {got} != {want}"


def test_star_contraction_long_chain(spark):
    """A 2000-vertex path — the adversarial-diameter shape where
    min-label propagation would need 2000 rounds — converges via star
    contraction in O(log^2 n) rounds with every vertex labeled 0."""
    chain = spark.createDataFrame([Row(id_a=i, id_b=i + 1) for i in range(1999)])
    got = {r.id: r.component
           for r in T.connected_components_star(chain).collect()}
    assert len(got) == 2000
    assert set(got.values()) == {0}


def test_star_contraction_matches_union_find(spark):
    """Random graph vs a pure-Python union-find ground truth, and vs the
    propagation variant."""
    import random

    rng = random.Random(13)
    edges = [(rng.randrange(500), rng.randrange(500)) for _ in range(400)]
    edges = [(a, b) for a, b in edges if a != b]

    parent = list(range(500))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    vertices = {v for e in edges for v in e}
    truth = {v: find(v) for v in vertices}

    df = spark.createDataFrame([Row(id_a=a, id_b=b) for a, b in edges])
    star = {r.id: r.component for r in T.connected_components_star(df).collect()}
    assert star == truth
    prop = {r.id: r.component for r in T.connected_components(df).collect()}
    assert prop == truth


def test_dedup_job_end_to_end(spark, tmp_path):
    """The composed dedup job (exact -> near (arrow) -> components ->
    keep-representative) on a corpus with planted exact AND near dups:
    report math consistent, survivors correct, both component strategies
    agree."""
    import json
    import subprocess
    import sys
    from pathlib import Path

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 8
    rows = [Row(doc_id=i, text=f"unique document {i} " + " ".join(
        f"w{i}x{j}" for j in range(60))) for i in range(40)]
    rows += [Row(doc_id=100, text=base), Row(doc_id=101, text=base)]      # exact dup
    rows += [Row(doc_id=102, text=base + " extra tail words here")]       # near dup
    src = str(tmp_path / "docs_in")
    spark.createDataFrame(rows).repartition(2).write.parquet(src)

    repo = Path(__file__).resolve().parent.parent
    for flag in ([], ["--star"], ["--exact-verify"],
                 ["--eval-sample", "43"]):
        out = subprocess.run(
            [sys.executable, str(repo / "jobs" / "dedup_job.py"),
             "--input", src, "--threshold", "0.6", "--cpus", "4", *flag],
            capture_output=True, text=True, timeout=600,
        )
        line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
        rep = json.loads(line)
        assert rep["docs_in"] == 43
        assert rep["exact_dropped"] == 1          # 101 dies in exact dedup
        assert rep["near_dropped"] == 1           # 102 dies in near dedup
        assert rep["docs_out"] == 41
        assert rep["docs_in"] - rep["exact_dropped"] - rep["near_dropped"] == rep["docs_out"]
        assert rep["verify"] == ("exact" if "--exact-verify" in flag else "estimate")
        if "--eval-sample" in flag:
            # sample covers the whole corpus: truth = the planted
            # 100-101 exact pair + both near pairs to 102; defaults
            # catch all of them at threshold 0.6
            assert rep["eval_docs"] == 43
            assert rep["eval_true_pairs"] == 3
            assert rep["eval_recall"] == 1.0


def test_dedup_job_embedding_mode(spark, tmp_path):
    """--embeddings adds embedding-cosine edges to the component graph:
    two docs with DIFFERENT text but near-identical vectors collapse,
    and an embedding edge to an exact-dropped doc cannot over-drop (the
    survivor semi-join)."""
    import json
    import subprocess
    import sys
    from pathlib import Path

    import numpy as np

    rows = [Row(doc_id=i, text=f"unique document {i} " + " ".join(
        f"w{i}x{j}" for j in range(60))) for i in range(20)]
    base = "repeated body " * 30
    rows += [Row(doc_id=100, text=base), Row(doc_id=101, text=base)]  # exact dup
    src = str(tmp_path / "docs_in")
    spark.createDataFrame(rows).repartition(2).write.parquet(src)

    rng = np.random.default_rng(3)
    vecs = {i: rng.normal(size=16) for i in [r.doc_id for r in rows]}
    vecs[7] = vecs[3] + rng.normal(scale=1e-3, size=16)   # semantic dup pair
    vecs[101] = vecs[5] + rng.normal(scale=1e-3, size=16)  # edge to exact-dropped doc
    emb = str(tmp_path / "emb_in")
    spark.createDataFrame(
        [Row(vec_id=int(i), embedding=[float(x) for x in v])
         for i, v in vecs.items()]
    ).write.parquet(emb)

    repo = Path(__file__).resolve().parent.parent
    out = subprocess.run(
        [sys.executable, str(repo / "jobs" / "dedup_job.py"),
         "--input", src, "--threshold", "0.6", "--cpus", "4",
         "--embeddings", emb, "--cos-threshold", "0.99",
         "--keep-output", "--output", str(tmp_path / "out")],
        capture_output=True, text=True, timeout=600,
    )
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    rep = json.loads(line)
    assert rep["docs_in"] == 22
    assert rep["exact_dropped"] == 1           # 101 dies in exact dedup
    assert rep["pairs_embedding"] == 1         # (3,7); (5,101) filtered out
    assert rep["near_dropped"] == 1            # 7 collapses into 3
    kept = {r.doc_id for r in
            spark.read.parquet(str(tmp_path / "out" / "documents")).collect()}
    assert 3 in kept and 7 not in kept
    assert 5 in kept                           # NOT over-dropped via 101


def test_curate_job_end_to_end(spark, tmp_path):
    """The composed curation job (quality -> language -> decontamination
    -> mixture -> redaction -> split) with a corpus planting each drop
    reason: report math consistent, output partitioned by split, every
    decision stable (re-run equals first run), and the
    benchmark/redaction stages verified against the written output."""
    import json
    import subprocess
    import sys
    from pathlib import Path

    good = ("It is clear that the story begins with his journey to the "
            "city, and the people were glad. " * 3)
    leak = ("the secret benchmark sentence that must never appear in "
            "training data")
    rows = [Row(doc_id=i, text=good + f" marker {i}", source=f"s{i % 2}")
            for i in range(30)]
    rows += [Row(doc_id=100, text="x", source="s0")]            # quality drop
    rows += [Row(doc_id=101, text=("der alte mann ging mit dem hund durch die "
                                   "stadt und das wetter war nicht gut aber er "
                                   "wollte zu seiner schwester. " * 3),
                 source="s0")]                                   # lang drop (de)
    rows += [Row(doc_id=102, text=good + " " + leak, source="s0")]  # contaminated
    rows += [Row(doc_id=103, text=good + " mail me admin@example.com now",
                 source="s0")]                                   # secret, kept
    gpl_text = ("This program is distributed under the terms of the GNU "
                "General Public License as published. ")
    rows += [Row(doc_id=104, text=gpl_text + good, source="s0")]  # license drop
    # passes every quality threshold but is pure 2-word boilerplate:
    # top bigram ('buy now.') covers ~51% of bigrams -> repetition drop
    rows += [Row(doc_id=105, text="buy now. " * 30, source="s0")]
    # gibberish WITH English function words (so lang-id keeps it and the
    # fluency stage is what must catch it): token-shape thresholds all
    # pass, logprob ~ -5.7 vs ~ -2.9 for fluent docs -> fluency drop at
    # --min-logprob -4.5
    rows += [Row(doc_id=106,
                 text="the zq xv of jk wq and zx qj the kv xz mzk of vkq "
                      "pzw qqj and nvx zzr. " * 2,
                 source="s0")]
    src = str(tmp_path / "cur_in")
    spark.createDataFrame(rows).repartition(2).write.parquet(src)
    bench_dir = str(tmp_path / "bench")
    spark.createDataFrame([Row(doc_id=0, text=leak)]).write.parquet(bench_dir)

    repo = Path(__file__).resolve().parent.parent

    def run(*extra):
        out = subprocess.run(
            [sys.executable, str(repo / "jobs" / "curate_job.py"),
             "--input", src, "--min-quality", "0.5", "--langs", "en",
             "--max-top-bigram-share", "0.3", "--min-logprob", "-4.5",
             "--rate", "s1=0.5", "--default-rate", "1.0", "--cpus", "4",
             *extra],
            capture_output=True, text=True, timeout=600,
        )
        return json.loads([l for l in out.stdout.splitlines() if l.startswith("{")][-1])

    rep = run()
    assert rep["docs_in"] == 37
    assert rep["quality_dropped"] == 1
    assert rep["repetition_dropped"] == 1       # doc 105, the bigram spam
    assert rep["fluency_dropped"] == 1          # doc 106, the gibberish
    assert rep["lang_dropped"] == 1
    assert rep["license_dropped"] == 0          # no --licenses
    assert rep["contamination_dropped"] == 0    # no --benchmark
    assert rep["secrets_redacted"] == 0         # no --redact
    assert 0 < rep["mixture_dropped"] < 15      # ~half of the 15 s1 docs
    assert rep["train"] + rep["eval"] == 33 - rep["mixture_dropped"]
    rep2 = run()  # fully deterministic end to end (timing fields aside)
    drop_timing = lambda d: {k: v for k, v in d.items()
                             if k not in ("seconds", "docs_per_sec")}
    assert drop_timing(rep2) == drop_timing(rep)

    # full pipeline: benchmark decontamination + redaction, output kept
    out_dir = str(tmp_path / "cur_out")
    rep3 = run("--benchmark", bench_dir, "--redact", "--output", out_dir,
               "--keep-output", "--licenses", "unknown,mit,apache-2.0")
    assert rep3["license_dropped"] == 1         # doc 104 carries GPL text
    assert rep3["contamination_dropped"] == 1   # doc 102 leaks the benchmark
    assert rep3["secrets_redacted"] == 1        # doc 103's email
    assert rep3["train"] + rep3["eval"] == 31 - rep3["mixture_dropped"]
    written = spark.read.parquet(f"{out_dir}/documents")
    [r103] = written.where("doc_id = 103").collect()
    assert "<EMAIL>" in r103.text and "admin@example.com" not in r103.text
    assert written.where("doc_id = 102").count() == 0
    assert written.where("doc_id = 104").count() == 0

    # class-balanced cap (--stratify COL=N): at most 3 docs per source
    # after the mixture, chosen by the scale-safe stratified sampler;
    # report math consistent and the selection deterministic
    strat_dir = str(tmp_path / "cur_strat")
    rep4 = run("--stratify", "source=3", "--output", strat_dir,
               "--keep-output")
    assert rep4["stratify_dropped"] > 0        # s0 has 18 survivors > 3
    assert rep4["train"] + rep4["eval"] == \
        33 - rep4["mixture_dropped"] - rep4["stratify_dropped"]
    strat = spark.read.parquet(f"{strat_dir}/documents")
    per_src = {r["source"]: r["n"] for r in
               strat.groupBy("source").count().withColumnRenamed(
                   "count", "n").collect()}
    assert per_src["s0"] == 3 and all(n <= 3 for n in per_src.values())
    rep5 = run("--stratify", "source=3")
    assert drop_timing(rep5) == drop_timing(rep4)

    # DSIR stage (--dsir-target/--dsir-k): keeps the k survivors most
    # like the target corpus; the target reuses the shared good-doc
    # vocabulary so the stage is a pure deterministic down-selection
    dsir_dir = str(tmp_path / "dsir_tgt")
    spark.createDataFrame(
        [Row(doc_id=0, text=good)]
    ).write.parquet(dsir_dir)
    rep6 = run("--dsir-target", dsir_dir, "--dsir-k", "10")
    assert rep6["train"] + rep6["eval"] == 10
    assert rep6["dsir_dropped"] == \
        33 - rep6["mixture_dropped"] - rep6["stratify_dropped"] - 10
    assert drop_timing(run("--dsir-target", dsir_dir, "--dsir-k", "10")) \
        == drop_timing(rep6)

    # chunking rider (--chunk TOKENS:OVERLAP): a chunks/ artifact of the
    # WRITTEN corpus, split-partitioned; every written doc appears, each
    # doc's chunks reconstruct its whitespace token stream, and the
    # chunk rows inherit the doc's split assignment
    chunk_dir = str(tmp_path / "cur_chunk")
    rep7 = run("--chunk", "16:4", "--output", chunk_dir, "--keep-output",
               "--bpe-merges", "40")
    # tokenizer rider: the merges artifact reproduces the reported train
    # token budget through an independent re-encode, and the tokenizer
    # never saw eval text (trained on the written train split only)
    from jsl_engine.bpe import END as BPE_END, bpe_encode
    from pyspark.sql import functions as F

    merge_rows = sorted(
        spark.read.parquet(f"{chunk_dir}/bpe_merges").collect(),
        key=lambda r: r.rank,
    )
    assert rep7["bpe_merges"] == len(merge_rows) == 40
    merges = [(r.left, r.right) for r in merge_rows]
    train_docs = spark.read.parquet(f"{chunk_dir}/documents").where(
        "split = 'train'"
    )
    recount = bpe_encode(train_docs, merges).agg(
        F.sum("n_tokens")
    ).first()[0]
    assert rep7["bpe_tokens_train"] == recount > 0

    # token-space chunking (--chunk-space bpe): windows cut in the
    # job-trained tokenizer's units — every chunk fits the budget BY
    # CONSTRUCTION, and each chunk is the exact token slice at its pos
    bpec_dir = str(tmp_path / "cur_bpec")
    rep8 = run("--chunk", "12:3", "--chunk-space", "bpe",
               "--bpe-merges", "30", "--output", bpec_dir, "--keep-output")
    bchunks = spark.read.parquet(f"{bpec_dir}/chunks")
    assert rep8["chunks"] == bchunks.count() > 0
    assert bchunks.agg(F.max("n_tokens")).first()[0] <= 12
    merges2 = [(r.left, r.right) for r in sorted(
        spark.read.parquet(f"{bpec_dir}/bpe_merges").collect(),
        key=lambda r: r.rank)]
    enc = {r.doc_id: list(r.tokens) for r in bpe_encode(
        spark.read.parquet(f"{bpec_dir}/documents"),
        merges2, keep_tokens=True).collect()}
    for r in bchunks.collect():
        toks = enc[r.doc_id][r.pos:r.pos + 12]
        assert r.n_tokens == len(toks) and r.chunk_text == "".join(
            toks).replace(BPE_END, " ").rstrip()
    chunks = spark.read.parquet(f"{chunk_dir}/chunks")
    docs_w = spark.read.parquet(f"{chunk_dir}/documents")
    assert rep7["chunks"] == chunks.count() > 0
    assert set(r.doc_id for r in chunks.select("doc_id").distinct().collect()) \
        == set(r.doc_id for r in docs_w.select("doc_id").collect())
    by_doc = {}
    for r in chunks.collect():
        by_doc.setdefault(r.doc_id, []).append(r)
    splits = {r.doc_id: r.split for r in docs_w.collect()}
    texts = {r.doc_id: r.text for r in docs_w.collect()}
    for did, rs in by_doc.items():
        rs.sort(key=lambda r: r.chunk_id)
        assert {r.split for r in rs} == {splits[did]}
        stitched = rs[0].chunk_text.split(" ")
        for r in rs[1:]:
            stitched += r.chunk_text.split(" ")[4:]
        assert stitched == texts[did].split()


def test_components_self_loop_vertex_parity(spark):
    """A vertex whose only edge is a self-loop appears in BOTH component
    variants' output as its own component (contract parity)."""
    pairs = spark.createDataFrame(
        [Row(id_a=7, id_b=7), Row(id_a=1, id_b=2)]
    )
    for fn in (T.connected_components, T.connected_components_star):
        got = {r.id: r.component for r in fn(pairs).collect()}
        assert got == {7: 7, 1: 1, 2: 1}, fn.__name__


def test_contamination_planted(spark):
    """A corpus doc containing a verbatim benchmark sentence is flagged;
    clean docs are not; hit counts match hand-computed gram overlap."""
    bench = spark.createDataFrame([
        Row(doc_id=100, text="the capital of france is paris"),
        Row(doc_id=101, text="water boils at one hundred degrees"),
    ])
    corpus = spark.createDataFrame([
        # leaks benchmark doc 100 verbatim inside filler
        Row(doc_id=1, text="trivia dump says the capital of france is paris today"),
        # clean
        Row(doc_id=2, text="completely unrelated text about gardening and soil"),
        # shares only a bigram ("boils at"), not a trigram
        Row(doc_id=3, text="soup boils at home"),
    ])
    out = {r.doc_id: r for r in T.contamination(corpus, bench, n=3).collect()}
    assert set(out) == {1, 2, 3}
    # doc 1: "the capital of france is paris" has 4 trigrams, all present
    assert out[1].contaminated and out[1].n_hits == 4
    # 10 words -> 8 trigrams
    assert out[1].n_grams == 8 and out[1].hit_rate == 0.5
    assert not out[2].contaminated and out[2].n_hits == 0
    assert not out[3].contaminated and out[3].n_hits == 0

    # min_hits raises the alarm threshold
    strict = {r.doc_id: r.contaminated
              for r in T.contamination(corpus, bench, n=3, min_hits=5).collect()}
    assert strict == {1: False, 2: False, 3: False}


def test_contamination_benchmark_broadcast_plan(spark):
    """Scale gate: the benchmark gram set joins the exploded corpus side
    as a BroadcastHashJoin (the corpus is never shuffled to meet the
    benchmark), and no CartesianProduct appears anywhere."""
    bench = spark.createDataFrame([Row(doc_id=1, text="alpha beta gamma delta")])
    corpus = spark.createDataFrame(
        [Row(doc_id=i, text=f"doc {i} alpha beta gamma filler") for i in range(50)]
    )
    plan = T.contamination(corpus, bench)._jdf.queryExecution().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_vocabulary_topk(spark):
    """Counts match hand-tallies; ties break alphabetically; k truncates."""
    df = spark.createDataFrame([
        Row(lang="en", text="apple banana apple cherry banana apple"),
        Row(lang="en", text="banana date"),
        Row(lang="de", text="zug zug bahn"),
    ])
    out = T.vocabulary_topk(df, k=2).collect()
    by_grp = {}
    for r in out:
        by_grp.setdefault(r.lang, []).append((r.rank, r.token, r.n_occ))
    assert sorted(by_grp["en"]) == [(1, "apple", 3), (2, "banana", 3)]  # tie: apple < banana
    assert sorted(by_grp["de"]) == [(1, "zug", 2), (2, "bahn", 1)]
    assert all(r.rank <= 2 for r in out)


def test_shuffle_export_deterministic_and_dense(spark):
    """(bucket, pos) addresses are partition-layout independent, every
    bucket's positions are dense 0..n-1, and each row appears once."""
    from jsl_engine import sampling as S

    df = spark.createDataFrame([Row(doc_id=i, lang="x") for i in range(200)])
    a = sorted((r.doc_id, r.bucket, r.pos)
               for r in S.shuffle_export(df, n_buckets=8).collect())
    b = sorted((r.doc_id, r.bucket, r.pos)
               for r in S.shuffle_export(df.repartition(13), n_buckets=8).collect())
    assert a == b and len(a) == 200
    by_bucket = {}
    for _, bkt, pos in a:
        by_bucket.setdefault(bkt, []).append(pos)
    for bkt, positions in by_bucket.items():
        assert sorted(positions) == list(range(len(positions)))
    assert set(by_bucket) == set(range(8))


def test_pack_sequences_concat_and_chunk(spark):
    """Packing invariants: offsets are the exact running sum in hash
    order, pack_id = start // budget, packs are contiguous, and a doc
    longer than the budget spans cuts without breaking neighbors."""
    from jsl_engine import sampling as S

    rows = [Row(doc_id=i, n_tok=(37 * (i % 7)) + 1) for i in range(100)]
    rows.append(Row(doc_id=100, n_tok=5000))  # longer than any budget
    df = spark.createDataFrame(rows)
    out = S.pack_sequences(
        df, tokens_col="n_tok", budget=256, n_buckets=4
    ).collect()
    assert len(out) == 101
    by_bucket = {}
    for r in out:
        by_bucket.setdefault(r.bucket, []).append(r)
    tok = {i: (37 * (i % 7)) + 1 for i in range(100)} | {100: 5000}
    for bkt, rs in by_bucket.items():
        rs = sorted(rs, key=lambda r: r.start_offset)
        running = 0
        for r in rs:
            assert r.start_offset == running
            assert r.n_tokens == tok[r.doc_id]
            assert r.pack_id == running // 256
            running += r.n_tokens
    # determinism under repartitioning
    again = S.pack_sequences(
        df.repartition(9), tokens_col="n_tok", budget=256, n_buckets=4
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_contamination_arrow_matches_jvm(spark):
    """The Arrow kernel's counts equal the JVM variant's on planted data
    (64-bit gram hashes: collision-free at fixture scale), including the
    flag threshold and rate rounding."""
    from jsl_engine.text_ops_arrow import contamination_arrow

    bench = spark.createDataFrame([
        Row(doc_id=100, text="the capital of france is paris"),
        Row(doc_id=101, text="water boils at one hundred degrees"),
    ])
    corpus = spark.createDataFrame([
        Row(doc_id=1, text="trivia dump says the capital of france is paris today"),
        Row(doc_id=2, text="completely unrelated text about gardening and soil"),
        Row(doc_id=3, text="soup boils at home"),
        Row(doc_id=4, text=""),
    ])
    jvm = sorted(map(tuple, T.contamination(corpus, bench, n=3).collect()))
    arrow = sorted(map(tuple,
                       contamination_arrow(corpus, bench, n=3).collect()))
    assert arrow == jvm

    # zero-shuffle gate (balance=False): the operator itself adds no
    # Exchange; the default balance=True only conditions small inputs
    plan = (contamination_arrow(corpus, bench, n=3, balance=False)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_fuzzy_contamination_finds_paraphrased_leak(spark):
    """A corpus doc that is a lightly-edited copy of a benchmark doc is
    caught by the cross-corpus MinHash join (exact n-gram contamination
    would still see most trigrams, but heavier paraphrase drops below
    any exact threshold while signatures stay close); unrelated docs
    stay clean, and the benchmark side never pairs with itself."""
    from jsl_engine.text_ops_arrow import fuzzy_contamination_exact_arrow

    base = ("the quick brown fox jumps over the lazy dog while the sun "
            "sets behind the quiet hills and the river flows east " * 3)
    edited = base.replace("quick", "swift").replace("river", "stream")
    bench = spark.createDataFrame([
        Row(doc_id=900, text=base),
        Row(doc_id=901, text="completely different benchmark prose about "
                             "chemistry experiments and lab safety rules " * 3),
    ])
    corpus = spark.createDataFrame([
        Row(doc_id=1, text=edited),                       # near-copy of 900
        Row(doc_id=2, text="unrelated text on gardening soil and compost "
                           "heaps with worms and rain " * 3),
    ])
    out = {(r.doc_id, r.bench_id): r.jaccard
           for r in fuzzy_contamination_exact_arrow(
               corpus, bench, threshold=0.3, bands=32).collect()}
    assert (1, 900) in out and out[(1, 900)] >= 0.3
    assert not any(d == 2 for d, _ in out)


def test_fuzzy_contamination_guard_and_broadcast_plan(spark):
    """Corpus-side boilerplate guard prunes before the join, and both
    benchmark sides (banded rows + signatures) broadcast."""
    from jsl_engine.text_ops_arrow import fuzzy_contamination_exact_arrow

    boiler = [(i, "auto generated header do not edit " * 8) for i in range(120)]
    df = spark.createDataFrame([Row(doc_id=i, text=t) for i, t in boiler])
    bench = spark.createDataFrame(
        [Row(doc_id=999, text="auto generated header do not edit " * 8)]
    )
    q = fuzzy_contamination_exact_arrow(df, bench, max_bucket=64)
    # every corpus doc shares every band-bucket (identical text) -> all
    # buckets oversized -> pruned -> zero candidates despite true matches
    # (the guard trades recall on boilerplate for bounded volume)
    assert q.count() == 0
    plan = q._jdf.queryExecution().toString()
    # both benchmark sides (banded rows, signatures) must broadcast —
    # a dropped hint regressing either to a sort-merge join fails here
    assert plan.count("BroadcastHashJoin") >= 2
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan


def test_cross_corpus_tail_broadcasts_only_by_hint(spark):
    """The two broadcasts of the fuzzy-decontamination tail (benchmark
    banded rows, benchmark signatures) come from its hints: with
    automatic broadcasting off, the tail alone plans exactly two
    BroadcastHashJoins and no SortMergeJoin."""
    from jsl_engine.text_ops_arrow import minhash_signatures_arrow

    corpus = spark.createDataFrame(
        [Row(doc_id=i, text=f"alpha beta gamma delta {i} epsilon zeta eta")
         for i in range(20)]
    )
    bench = spark.createDataFrame(
        [Row(doc_id=900, text="alpha beta gamma delta 3 epsilon zeta eta")]
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        q = T.cross_corpus_near_dups_from_signatures(
            minhash_signatures_arrow(corpus), minhash_signatures_arrow(bench),
            threshold=0.5,
        )
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert plan.count("BroadcastHashJoin") == 2, plan
        assert "SortMergeJoin" not in plan, plan
        assert (3, 900) in {(r.doc_id, r.bench_id) for r in q.collect()}
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_vocabulary_topk_scalable_equals_exact(spark):
    """With the sketch guarantee satisfied, the bounded-memory variant
    returns exactly the exact operator's rows; with a tiny sketch the MG
    decrement still surfaces dominant heavy hitters."""
    import random

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(50)]
    rows = [
        Row(lang=("en" if i % 3 else "de"),
            text=" ".join(rng.choices(vocab, weights=range(1, 51), k=120)))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows).repartition(6)
    exact = sorted(map(tuple, T.vocabulary_topk(df, k=10).collect()))
    scal = sorted(map(tuple,
                      T.vocabulary_topk_scalable(df, k=10, sketch_size=8192).collect()))
    assert scal == exact

    # stress the decrement path: sketch far smaller than vocabulary —
    # the single overwhelming heavy hitter must still rank first
    stress = spark.createDataFrame(
        [Row(lang="en", text=("dominant " * 50) + " ".join(
            f"rare{i}_{j}" for j in range(40)))
         for i in range(50)]
    ).repartition(4)
    top = T.vocabulary_topk_scalable(stress, k=1, sketch_size=16).collect()
    assert [(r.lang, r.token) for r in top] == [("en", "dominant")]

    # non-string group columns keep their type (schema derived, not
    # hardcoded) and still equal the exact operator
    intdf = spark.createDataFrame(
        [Row(year=2000 + (i % 2), text="aa bb aa cc aa bb") for i in range(20)]
    ).repartition(3)
    e = sorted(map(tuple, T.vocabulary_topk(intdf, group_col="year", k=2).collect()))
    g = sorted(map(tuple,
                   T.vocabulary_topk_scalable(intdf, group_col="year", k=2).collect()))
    assert g == e and isinstance(g[0][0], int)


def _exact_jaccard_truth(rows, n=5, threshold=0.5):
    """Pure-Python ground truth: all pairs with exact word-n-gram Jaccard
    >= threshold (round 6 dp like the engine)."""
    import itertools
    import re

    def sh(text):
        w = re.sub(r"\s+", " ", text.lower()).strip().split(" ")
        k = max(len(w) - (n - 1), 1)
        return {" ".join(w[i:i + n]) for i in range(k)}

    s = {r.doc_id: sh(r.text) for r in rows}
    out = {}
    for a, b in itertools.combinations(sorted(s), 2):
        j = round(len(s[a] & s[b]) / len(s[a] | s[b]), 6)
        if j >= threshold:
            out[(a, b)] = j
    return out


def test_minhash_exact_arrow_matches_bruteforce_truth(spark):
    """The headline exact-verified MinHash op must emit EXACTLY the
    brute-force pair set {exact Jaccard >= threshold} on the planted
    corpus — banding is an accelerator, recall is part of the contract."""
    from jsl_engine.text_ops_arrow import minhash_near_duplicates_exact_arrow

    df = _planted_corpus(spark)
    truth = _exact_jaccard_truth(df.collect(), n=5, threshold=0.5)
    got = {(r.id_a, r.id_b): r.jaccard
           for r in minhash_near_duplicates_exact_arrow(df, threshold=0.5).collect()}
    assert got == truth
    assert len(truth) >= 30  # the fixture plants real near-dups


def test_winnow_exact_arrow_matches_bruteforce_truth(spark):
    """Same contract through the winnowing candidate net (min_shared=1)."""
    from jsl_engine.text_ops_arrow import winnow_overlap_exact_arrow

    df = _planted_corpus(spark)
    truth = _exact_jaccard_truth(df.collect(), n=5, threshold=0.5)
    got = {(r.id_a, r.id_b): r.jaccard
           for r in winnow_overlap_exact_arrow(df, threshold=0.5).collect()}
    assert got == truth


def test_fuzzy_contamination_exact_arrow_matches_truth(spark):
    """Cross-corpus exact-verified decontamination: even-id docs form the
    corpus, odd-id near-dup variants the benchmark — every (corpus,
    benchmark) pair at exact Jaccard >= 0.5 must surface with its exact
    score, nothing else."""
    from pyspark.sql import functions as F

    from jsl_engine.text_ops_arrow import fuzzy_contamination_exact_arrow

    df = _planted_corpus(spark)
    corpus = df.where(F.col("doc_id") % 2 == 0)
    bench = df.where(F.col("doc_id") % 2 == 1)
    truth_all = _exact_jaccard_truth(df.collect(), n=5, threshold=0.5)
    # normalize to (corpus_id, bench_id) regardless of numeric order —
    # combinations() emits sorted pairs, but a corpus id may exceed a
    # benchmark id
    truth = {(a, b) if a % 2 == 0 else (b, a): j
             for (a, b), j in truth_all.items() if (a + b) % 2 == 1}
    got = {(r.doc_id, r.bench_id): r.jaccard
           for r in fuzzy_contamination_exact_arrow(corpus, bench,
                                                    threshold=0.5).collect()}
    assert got == truth
    assert len(truth) >= 30


def test_repetition_profile_hand_computed(spark):
    """Gopher-style repetition signals against hand-derived values, and
    the map-only HOF bigram path must equal the scalable agg path."""
    docs = spark.createDataFrame([
        Row(doc_id=1, text="a b\na b\nc d e\n"),
        Row(doc_id=2, text="x y z"),
        Row(doc_id=3, text="w w w w w w"),
    ])
    for path in ("agg", "hof"):
        out = {r.doc_id: r for r in
               T.repetition_profile(docs, bigram_path=path).collect()}
        r1 = out[1]
        # raw lines: ['a b', 'a b', 'c d e', ''] -> n_lines counts all 4;
        # duplicate metrics run over the 3 NON-EMPTY lines (blank
        # separators are structure, not repetition): 3 lines, 2 distinct
        assert r1.n_lines == 4
        assert r1.dup_line_frac == round(1 / 3, 6)
        # duplicated-line chars 3+3 of 11 non-empty total
        assert r1.dup_line_char_frac == round(6 / 11, 6)
        # normalized words [a b a b c d e] -> bigrams
        # [a b, b a, a b, b c, c d, d e]: top 'a b' = 2/6
        assert r1.top_bigram_share == round(2 / 6, 6)
        r2 = out[2]
        assert (r2.n_lines, r2.dup_line_frac, r2.dup_line_char_frac) == (1, 0.0, 0.0)
        assert r2.top_bigram_share == 0.5  # [x y, y z]: max 1 of 2
        r3 = out[3]
        assert r3.top_bigram_share == 1.0  # all bigrams 'w w'
    a = sorted(map(tuple, T.repetition_profile(docs, bigram_path="agg").collect()))
    b = sorted(map(tuple, T.repetition_profile(docs, bigram_path="hof").collect()))
    assert a == b


def test_fuzzy_contamination_overlapping_id_spaces(spark):
    """Corpus and benchmark numbering their documents independently (the
    realistic decontamination case: both sides use ids 0..N) must not
    cross-wire the verify join — a candidate must be scored against the
    BENCHMARK text with that id, never the same-id corpus text."""
    from pyspark.sql import functions as F

    from jsl_engine.text_ops_arrow import fuzzy_contamination_exact_arrow

    base = " ".join(f"tok{i}word{i % 7}" for i in range(60))
    corpus = spark.createDataFrame([
        Row(doc_id=0, text=base),                      # leaks benchmark doc 1
        Row(doc_id=1, text="completely different words entirely " * 10),
    ])
    bench = spark.createDataFrame([
        Row(doc_id=0, text="unrelated benchmark question here " * 10),
        Row(doc_id=1, text=base + " tail"),
    ])
    got = {(r.doc_id, r.bench_id): r.jaccard
           for r in fuzzy_contamination_exact_arrow(
               corpus, bench, threshold=0.5).collect()}
    assert set(got) == {(0, 1)}
    assert got[(0, 1)] > 0.8


def test_minhash_exact_arrow_bucket_guard_liftable(spark):
    """The exact op's contract qualifier: a 100-doc duplicate cluster
    collides in EVERY band, so the default max_bucket=64 guard prunes it
    whole (boilerplate semantics); lifting max_bucket restores the
    unqualified all-pairs contract the oracled query runs under."""
    from jsl_engine.text_ops_arrow import minhash_near_duplicates_exact_arrow

    boiler = "This file is auto-generated do not edit today. " * 6
    df = spark.createDataFrame(
        [Row(doc_id=i, text=boiler) for i in range(100)]
    )
    guarded = minhash_near_duplicates_exact_arrow(df, threshold=0.5)
    assert guarded.count() == 0
    lifted = minhash_near_duplicates_exact_arrow(
        df, threshold=0.5, max_bucket=1 << 30
    )
    assert lifted.count() == 100 * 99 // 2


def test_repetition_profile_null_text_and_n_words(spark):
    """NULL-text rows must survive BOTH bigram paths with NULL metrics
    (not vanish from the agg path's join), and n_words must be emitted
    so callers can floor repetition thresholds (a W-word doc's top
    bigram share is >= 1/(W-1) by pigeonhole)."""
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="x y z"), Row(doc_id=2, text=None)],
        "doc_id long, text string",
    )
    for path in ("agg", "hof"):
        out = {r.doc_id: r for r in
               T.repetition_profile(docs, bigram_path=path).collect()}
        assert set(out) == {1, 2}, path
        assert out[1].n_words == 3
        assert out[1].top_bigram_share == 0.5
        assert out[2].top_bigram_share is None
    # metric selection: skipping a family omits its columns (and its work)
    only_lines = T.repetition_profile(docs, with_bigrams=False)
    assert "top_bigram_share" not in only_lines.columns
    assert "dup_line_frac" in only_lines.columns
    only_bg = T.repetition_profile(docs, with_lines=False)
    assert "dup_line_frac" not in only_bg.columns
    assert "top_bigram_share" in only_bg.columns


def test_unigram_logprob_score_hand_computed(spark):
    """Proxy-perplexity scorer against a hand-derived Lidstone model:
    fluent text (frequent reference tokens) must outscore rare-token and
    OOV-heavy text, values must match the closed-form math, empty docs
    keep a NULL-score row, and a small vocab_size routes tail tokens
    through the OOV mass."""
    import math

    ref = spark.createDataFrame(
        [Row(doc_id=100 + i, text="the cat sat on the mat") for i in range(5)]
    )
    # reference counts: the=10, cat=5, sat=5, on=5, mat=5 -> total=30,
    # n_types=5; alpha=0.5, vocab=5 -> denom = 30 + 0.5*6 = 33
    docs = spark.createDataFrame([
        Row(doc_id=1, text="the the cat"),
        Row(doc_id=2, text="zyx qwv"),       # pure OOV
        Row(doc_id=3, text="   "),            # no tokens
    ])
    out = {r.doc_id: r for r in T.unigram_logprob_score(
        docs, ref, vocab_size=5, alpha=0.5).collect()}
    lp = lambda c: math.log((c + 0.5) / 33.0)
    oov = math.log(0.5 / 33.0)
    assert out[1].n_tokens == 3
    assert out[1].mean_logprob == round((2 * lp(10) + lp(5)) / 3, 6)
    assert out[2].mean_logprob == round(oov, 6)
    assert out[3].n_tokens == 0 and out[3].mean_logprob is None
    assert out[1].mean_logprob > out[2].mean_logprob

    # vocab cap: vocab_size=1 keeps only 'the'; 'cat' now scores as OOV
    capped = {r.doc_id: r.mean_logprob for r in T.unigram_logprob_score(
        docs, ref, vocab_size=1, alpha=0.5).collect()}
    denom1 = 30 + 0.5 * 2
    want = round((2 * math.log(10.5 / denom1) + math.log(0.5 / denom1)) / 3, 6)
    assert capped[1] == want

    # self-scored default: reference = the corpus itself, deterministic
    a = sorted(map(tuple, T.unigram_logprob_score(docs).collect()))
    b = sorted(map(tuple, T.unigram_logprob_score(docs.repartition(3)).collect()))
    assert a == b


def test_vocabulary_drift_jsd(spark):
    """One-vs-rest token JSD against a pure-Python computation, bounds
    respected (0 for identically-distributed parts, ln 2 for disjoint
    vocabularies), and the oov bucket honors the vocab cap."""
    import collections
    import math

    def jsd(c1, c2):
        n1, n2 = sum(c1.values()), sum(c2.values())
        out = 0.0
        for t in set(c1) | set(c2):
            p, q = c1.get(t, 0) / n1, c2.get(t, 0) / n2
            m = (p + q) / 2
            if p:
                out += 0.5 * p * math.log(p / m)
            if q:
                out += 0.5 * q * math.log(q / m)
        return out

    rows = (
        [Row(part="a", text="alpha beta gamma alpha beta")] * 3
        + [Row(part="b", text="alpha beta delta delta epsilon")] * 2
        + [Row(part="c", text="zeta zeta eta theta")] * 2
    )
    df = spark.createDataFrame(rows)
    got = {r.part: r for r in T.vocabulary_drift(df, "part", vocab_size=100).collect()}
    counts = {}
    for r in rows:
        counts.setdefault(r.part, collections.Counter()).update(r.text.split())
    for part in ("a", "b", "c"):
        rest = collections.Counter()
        for other, c in counts.items():
            if other != part:
                rest.update(c)
        assert got[part].js_divergence == round(jsd(counts[part], rest), 6), part
        assert 0.0 <= got[part].js_divergence <= math.log(2) + 1e-9
        assert got[part].n_tokens == sum(counts[part].values())
    # disjoint vocabulary -> maximal divergence
    assert got["c"].js_divergence == round(math.log(2), 6)

    # identical distributions -> 0
    same = spark.createDataFrame(
        [Row(part="x", text="one two three")] * 4
        + [Row(part="y", text="one two three")] * 4
    )
    out = {r.part: r.js_divergence
           for r in T.vocabulary_drift(same, "part").collect()}
    assert out == {"x": 0.0, "y": 0.0}

    # vocab cap: with vocab_size=2 the tail collapses into one <oov>
    # bucket; divergence can only shrink (data-processing inequality on
    # the coarsening) and must match the hand-computed bucketing
    capped = {r.part: r.js_divergence
              for r in T.vocabulary_drift(df, "part", vocab_size=2).collect()}
    glob = collections.Counter()
    for c in counts.values():
        glob.update(c)
    keep = {t for t, _ in sorted(glob.items(), key=lambda kv: (-kv[1], kv[0]))[:2]}
    def bucket(c):
        out = collections.Counter()
        for t, n in c.items():
            out[t if t in keep else "<oov>"] += n
        return out
    for part in ("a", "b", "c"):
        rest = collections.Counter()
        for other, c in counts.items():
            if other != part:
                rest.update(c)
        assert capped[part] == round(jsd(bucket(counts[part]), bucket(rest)), 6)
        assert capped[part] <= got[part].js_divergence + 1e-9


def test_frequent_lines_and_removal(spark):
    """Planted boilerplate (a banner in 3 docs, a footer in 2) is
    inventoried and stripped; unique lines and line ORDER survive; empty
    lines are structural and never removed; counts are exact."""
    banner = "Generated by tool v1 - do not edit"
    footer = "All rights reserved"
    docs = spark.createDataFrame([
        Row(doc_id=1, text=f"{banner}\nalpha beta\n\ngamma\n{footer}"),
        Row(doc_id=2, text=f"{banner}\ndelta epsilon\n{footer}"),
        Row(doc_id=3, text=f"{banner}\nzeta eta theta"),
        Row(doc_id=4, text="totally unique content\n\nmore unique lines"),
    ])
    freq = {r.line: r.n_docs for r in T.frequent_lines(docs).collect()}
    assert freq == {banner: 3, footer: 2}

    out = {r.doc_id: r for r in T.remove_frequent_lines(docs).collect()}
    assert out[1].text == "alpha beta\n\ngamma"
    assert out[1].n_lines == 5 and out[1].n_removed == 2
    assert out[2].text == "delta epsilon"
    assert out[3].text == "zeta eta theta"
    assert out[4].text == "totally unique content\n\nmore unique lines"
    assert out[4].n_removed == 0

    # a supplied boilerplate list skips the counting phase and matches
    out2 = {r.doc_id: r.text for r in T.remove_frequent_lines(
        docs, frequent=[banner, footer]).collect()}
    assert out2 == {i: out[i].text for i in out}


def test_remove_frequent_lines_threshold_and_plan(spark):
    """min_docs raises the bar (footer in 2 docs survives at 3); the
    rewrite stage itself is map-only."""
    banner = "the banner line"
    footer = "the footer line"
    docs = spark.createDataFrame([
        Row(doc_id=1, text=f"{banner}\na\n{footer}"),
        Row(doc_id=2, text=f"{banner}\nb\n{footer}"),
        Row(doc_id=3, text=f"{banner}\nc"),
    ])
    out = {r.doc_id: r.text
           for r in T.remove_frequent_lines(docs, min_docs=3).collect()}
    assert out == {1: f"a\n{footer}", 2: f"b\n{footer}", 3: "c"}
    plan = (T.remove_frequent_lines(docs, frequent=[banner])
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_remove_frequent_lines_null_and_empty(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=1, text=None), Row(doc_id=2, text="")],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.text, r.n_lines, r.n_removed)
           for r in T.remove_frequent_lines(docs, frequent=["x"]).collect()}
    assert out[1] == (None, 0, 0)
    assert out[2] == ("", 1, 0)


def test_dedup_job_incremental_state(spark, tmp_path):
    """Two-batch incremental dedup via --state: batch 1 builds the
    retained-set store; batch 2 enforces the retained-set contract —
    exact and near duplicates of retained docs are dropped, batch-2
    internal dups collapse, a doc similar ONLY to a batch-1 DROPPED doc
    is kept (the contract, pinned), and retained decisions never change."""
    import json
    import subprocess
    import sys
    from pathlib import Path

    def run(src, state):
        repo = Path(__file__).resolve().parent.parent
        out = subprocess.run(
            [sys.executable, str(repo / "jobs" / "dedup_job.py"),
             "--input", src, "--threshold", "0.6", "--cpus", "4",
             "--state", state],
            capture_output=True, text=True, timeout=600,
        )
        line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
        return json.loads(line)

    filler = " ".join(f"pad{j}" for j in range(50))
    base_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 8
    base_b = "one two three four five six seven eight nine ten " * 8
    b1 = [Row(doc_id=i, text=f"unique b1 doc {i} " + " ".join(
        f"u{i}v{j}" for j in range(60))) for i in range(10)]
    b1 += [Row(doc_id=100, text=base_a),
           Row(doc_id=101, text=base_a + " tail bit")]   # 101 near-dups 100 -> dropped
    b1 += [Row(doc_id=102, text=base_b)]
    # NULL pair: exact-dup territory via the sentinel hash — 150 is the
    # retained representative, 151 collapses (a bare sha2 key would have
    # silently DELETED both; round-5 review regression)
    b1 += [Row(doc_id=150, text=None), Row(doc_id=151, text=None)]
    src1 = str(tmp_path / "b1")
    spark.createDataFrame(b1).repartition(2).write.parquet(src1)
    state = str(tmp_path / "state")

    rep1 = run(src1, state)
    assert rep1.get("mode") is None               # full run
    assert rep1["docs_out"] == 13                 # 101 -> 100, 151 -> 150

    b2 = [Row(doc_id=200, text=base_a)]                       # exact dup of retained 100
    b2 += [Row(doc_id=201, text=base_a + " slight change")]   # near dup of retained 100
    b2 += [Row(doc_id=202, text=base_a + " tail bit")]        # exact dup of DROPPED 101 -> near 100 -> dropped via near edge
    b2 += [Row(doc_id=210, text=f"brand new content {filler}"),
           Row(doc_id=211, text=f"brand new content {filler} extra")]  # internal near pair
    b2 += [Row(doc_id=220, text="totally fresh " + " ".join(
        f"x{j}y{j}" for j in range(60)))]
    b2 += [Row(doc_id=250, text=None)]   # exact dup of retained NULL 150
    src2 = str(tmp_path / "b2")
    spark.createDataFrame(b2).repartition(2).write.parquet(src2)

    rep2 = run(src2, state)
    assert rep2["mode"] == "incremental"
    assert rep2["state_in"] == 13
    assert rep2["exact_cross_dropped"] == 2       # 200, 250 (NULL vs NULL)
    assert rep2["near_state_dropped"] == 2        # 201, 202
    assert rep2["near_batch_dropped"] == 1        # 211 collapses into 210
    assert rep2["docs_out"] == 2                  # 210, 220
    assert rep2["retained_total"] == 15

    st = spark.read.parquet(f"{state}/retained")
    ids = {r.doc_id for r in st.select("doc_id").collect()}
    assert ids == ({i for i in range(10)} | {100, 102, 150, 210, 220})
    # the NULL doc's state row exists with the sentinel sha and no sig
    [null_row] = st.where("doc_id = 150").collect()
    assert null_row.sha256 == "__null__" and null_row.sig is None


def test_frequent_lines_counts_distinct_docs_not_rows(spark):
    """A doc_id re-ingested as two rows must count once: its unique
    line must NOT reach min_docs=2 via row duplication."""
    docs = spark.createDataFrame([
        Row(doc_id=1, text="only in doc one\nfiller a"),
        Row(doc_id=1, text="only in doc one\nfiller a"),   # duplicate row
        Row(doc_id=2, text="unrelated content line"),
    ])
    freq = {r.line for r in T.frequent_lines(docs).collect()}
    assert freq == set()


def test_dedup_state_swap_crash_recovery(tmp_path):
    """Crash between the two renames (live state moved to backup, new
    state not yet in place) must be recoverable — the next run restores
    the backup instead of silently rebuilding from one batch."""
    from jobs.dedup_job import _recover_state, _swap_state

    state = tmp_path / "retained"
    state.mkdir()
    (state / "_SUCCESS").write_text("")
    (state / "data").write_text("old")
    staging = tmp_path / "_staging"
    staging.mkdir()
    (staging / "_SUCCESS").write_text("")
    (staging / "data").write_text("new")

    # normal swap: new state live, backup gone
    _swap_state(staging, state)
    assert (state / "data").read_text() == "new"
    assert not (tmp_path / "_backup").exists()

    # simulated crash window: state was renamed to backup, no live state
    state.rename(tmp_path / "_backup")
    assert not state.exists()
    _recover_state(state)
    assert (state / "data").read_text() == "new"
    assert (state / "_SUCCESS").exists()


# ---------------------------------------------------------------------------
# span-level exact dedup measurement
# ---------------------------------------------------------------------------

class TestDuplicateSpans:
    def test_planted_cross_doc_span(self, spark):
        from pyspark.sql import Row

        from jsl_engine.text_ops import duplicate_spans

        boiler = " ".join(f"b{i}" for i in range(5))  # 5-word template
        rows = [
            Row(doc_id=0, text=f"{boiler} alpha beta gamma"),
            Row(doc_id=1, text=f"delta {boiler} epsilon"),
            Row(doc_id=2, text="zeta eta theta iota kappa lam mu nu"),
        ]
        out = {
            r.doc_id: r
            for r in duplicate_spans(
                spark.createDataFrame(rows), span_tokens=5
            ).collect()
        }
        # doc 0: 8 words -> 4 spans; exactly the window equal to boiler
        # (positions 1..5) repeats in doc 1
        assert out[0].n_spans == 4 and out[0].n_dup_spans == 1
        assert out[0].dup_span_frac == 0.25
        assert out[1].n_dup_spans == 1
        assert out[2].n_dup_spans == 0 and out[2].dup_span_frac == 0.0

    def test_within_doc_repeat_counts(self, spark):
        """A span repeated inside ONE document is a duplicate (Lee et
        al. count all occurrences, not distinct documents)."""
        from pyspark.sql import Row

        from jsl_engine.text_ops import duplicate_spans

        t = "a b c x y a b c"  # "a b c" occurs twice (positions 1, 6)
        out = duplicate_spans(
            spark.createDataFrame([Row(doc_id=0, text=t)]), span_tokens=3
        ).collect()[0]
        assert out.n_spans == 6
        assert out.n_dup_spans == 2  # both instances of "a b c"
        assert out.dup_span_frac == round(2 / 6, 6)

    def test_short_and_null_docs(self, spark):
        from pyspark.sql import Row
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        from jsl_engine.text_ops import duplicate_spans

        schema = StructType(
            [
                StructField("doc_id", LongType(), False),
                StructField("text", StringType(), True),
            ]
        )
        rows = [
            (0, "tiny doc"),          # < span_tokens words -> 1 span
            (1, "tiny doc"),          # identical short doc -> both dup
            (2, None),                # NULL text -> single empty span
            (3, ""),                  # empty text -> the same empty span
        ]
        out = {
            r.doc_id: r
            for r in duplicate_spans(
                spark.createDataFrame(rows, schema), span_tokens=13
            ).collect()
        }
        assert len(out) == 4
        assert out[0].n_spans == 1 and out[0].n_dup_spans == 1
        assert out[1].dup_span_frac == 1.0
        # NULL collapses to a single NULL span, empty to the single
        # empty-string span — distinct groups, so each lone document
        # reports zero duplication (but neither vanishes)
        assert out[2].n_spans == 1 and out[2].n_dup_spans == 0
        assert out[3].n_spans == 1 and out[3].n_dup_spans == 0

    def test_repartition_invariant_and_plan(self, spark):
        from pyspark.sql import Row

        from jsl_engine.text_ops import duplicate_spans

        rows = [
            Row(doc_id=i, text=" ".join(f"w{(i * 7 + j) % 23}" for j in range(30)))
            for i in range(60)
        ]
        df = spark.createDataFrame(rows)
        base = sorted(map(tuple, duplicate_spans(df, span_tokens=5).collect()))
        got = sorted(
            map(
                tuple,
                duplicate_spans(df.repartition(7), span_tokens=5).collect(),
            )
        )
        assert base == got
        plan = (
            duplicate_spans(df, span_tokens=5)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        # one explode total: span instances are aggregated once and never
        # re-derived for a join-back
        assert plan.count("explode") == 1


class TestDuplicateSpansArrow:
    def test_parity_with_jvm(self, spark):
        """The Arrow twin must reproduce the JVM operator's OUTPUT
        exactly (same profile rows) on a corpus exercising every
        equivalence-class corner: planted cross-doc boilerplate,
        within-doc repeats, short docs (< span_tokens words), empty
        docs, NULL docs, and mixed-whitespace normalization."""
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        from jsl_engine.text_ops import duplicate_spans, duplicate_spans_arrow

        schema = StructType(
            [
                StructField("doc_id", LongType(), False),
                StructField("text", StringType(), True),
            ]
        )
        boiler = " ".join(f"b{i}" for i in range(5))
        rows = [
            (0, f"{boiler} alpha beta gamma"),
            (1, f"delta {boiler} epsilon"),
            (2, "zeta eta theta iota kappa lam mu nu"),
            (3, "a b c x y a b c"),       # within-doc repeat
            (4, "tiny doc"),              # short
            (5, "tiny doc"),              # identical short
            (6, None),                    # NULL
            (7, None),                    # second NULL — must pair with 6
            (8, ""),                      # empty
            (9, "  Tiny\t DOC  "),        # normalizes to "tiny doc"
        ]
        df = spark.createDataFrame(rows, schema)
        jvm = sorted(map(tuple, duplicate_spans(df, span_tokens=5).collect()))
        arw = sorted(
            map(tuple, duplicate_spans_arrow(df, span_tokens=5).collect())
        )
        assert jvm == arw
        # and the NULL pair really did group: both NULL docs fully dup
        by_id = {t[0]: t for t in arw}
        assert by_id[6][2] == 1 and by_id[7][2] == 1

    def test_repartition_invariant_and_plan(self, spark):
        from pyspark.sql import Row

        from jsl_engine.text_ops import duplicate_spans_arrow

        rows = [
            Row(doc_id=i, text=" ".join(f"w{(i * 7 + j) % 23}" for j in range(30)))
            for i in range(60)
        ]
        df = spark.createDataFrame(rows)
        base = sorted(
            map(tuple, duplicate_spans_arrow(df, span_tokens=5).collect())
        )
        got = sorted(
            map(
                tuple,
                duplicate_spans_arrow(df.repartition(7), span_tokens=5).collect(),
            )
        )
        assert base == got
        plan = (
            duplicate_spans_arrow(df, span_tokens=5)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        # the JVM head's explode/HOF never appears: the span fold is
        # inside the Arrow map, so the plan's only python node is the
        # mapInArrow evaluation itself
        assert "explode" not in plan


class TestRepetitionProfileArrow:
    def test_parity_with_jvm(self, spark):
        """The Arrow twin must reproduce the JVM repetition profile
        row-for-row, including the rounding-boundary regime (a share of
        3/640 sits exactly on the 7th decimal digit 5, where Spark's
        shortest-repr HALF_UP, exact-binary HALF_UP and banker's
        rounding all disagree) and every structural corner: duplicate
        and blank lines, 1-word and empty docs, NULL text, whitespace
        normalization."""
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        from jsl_engine.text_ops import repetition_profile
        from jsl_engine.text_ops_arrow import repetition_profile_arrow

        schema = StructType(
            [
                StructField("doc_id", LongType(), False),
                StructField("text", StringType(), True),
            ]
        )
        # 641 words, top bigram "x x" occurring 3 times -> share 3/640
        boundary = " ".join(
            ["x", "x", "x", "x"] + [f"w{i}" for i in range(637)]
        )
        rows = [
            (0, "spam line\nspam line\nunique one\n\nspam line"),
            (1, "a b a b a b"),                  # top bigram repeats
            (2, "single"),                        # 1-word clip
            (3, ""),                              # empty
            (4, None),                            # NULL
            (5, "  Mixed\t WS   doc \n Mixed\t WS   doc "),
            (6, boundary),
        ]
        df = spark.createDataFrame(rows, schema)
        jvm = sorted(map(tuple, repetition_profile(df).collect()))
        arw = sorted(map(tuple, repetition_profile_arrow(df).collect()))
        assert jvm == arw
        by_id = {t[0]: t for t in arw}
        assert by_id[6][5] == 0.004688  # the HALF_UP shortest-repr pin

    def test_zero_shuffle_plan(self, spark):
        from pyspark.sql import Row

        from jsl_engine.text_ops_arrow import repetition_profile_arrow

        df = spark.createDataFrame(
            [Row(doc_id=i, text="a b c\na b c") for i in range(40)]
        )
        plan = (
            repetition_profile_arrow(df)
            ._jdf.queryExecution().optimizedPlan().toString()
        )
        # no explode, no aggregation, no join — the whole profile is one
        # map (the only exchange anywhere is fan_out's input conditioning)
        for frag in ("explode", "Aggregate", "Join"):
            assert frag not in plan


def test_round6_matches_spark_round_sweep(spark):
    """_round6 claims Spark's round(col, 6) double semantics (HALF_UP
    over BigDecimal.valueOf's rendering). Java's Double.toString is only
    guaranteed SHORTEST-repr from JDK 19 (JDK-4511638), while _round6
    uses Python repr (always shortest) — so pin equality against the
    RUNNING JVM over every fraction p/q that the repetition metrics can
    produce at realistic document sizes, plus a dense boundary band.
    Any JDK whose rendering diverges on a reachable value fails here."""
    from pyspark.sql import functions as F

    from jsl_engine.text_ops_arrow import _round6

    vals = sorted(
        {p / q for q in range(1, 1300) for p in range(0, q + 1)}
        | {i / 1e7 for i in range(0, 120)}       # 0 .. 1.2e-5 boundary band
        | {0.0015625, 0.0046875, 1 / 512, 3 / 640, 7 / 640}
    )
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = [r.r for r in df.select(F.round("x", 6).alias("r")).collect()]
    want = [_round6(v) for v in vals]
    bad = [(v, g, w) for v, g, w in zip(vals, got, want) if g != w]
    assert not bad, f"{len(bad)} diverging values, first: {bad[:3]}"


def test_repetition_logprob_oracle_parity_on_null_and_empty_text(spark):
    """Engine-vs-oracle parity for the registry's composite
    repetition+logprob+span row on the corpus corners the sandbox
    parquet happens not to contain: NULL text (engine pins all-NULL
    repetition metrics, n_tokens=0, ONE sentinel span that groups with
    other NULL docs and nothing else) and empty text. Regression for a
    round-5 review finding: the oracle's COALESCE fallbacks turned the
    missing line_stats row into 0.0 and the NULL span join-dropped the
    doc, so a single NULL-text row would have failed the hard gate with
    a spurious mismatch."""
    import math

    import duckdb

    import __spark_entry__ as entry_mod
    from jsl_engine.text_ops import duplicate_spans_arrow, unigram_logprob_score
    from jsl_engine.text_ops_arrow import repetition_profile_arrow

    rows = [
        (1, "hello world hello world\nhello world hello world\nx"),
        (2, None),
        (3, ""),
        (4, None),
        (5, "the quick brown fox jumps over the lazy dog " * 4),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    rep = repetition_profile_arrow(docs)
    lp = unigram_logprob_score(docs)
    sp = duplicate_spans_arrow(docs, span_tokens=13)
    sdf = rep.join(lp, "doc_id").join(sp, "doc_id")
    srows = sdf.collect()
    cols = sorted(sdf.columns)

    import pandas as pd

    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame(rows, columns=["doc_id", "text"]).astype(
            {"doc_id": "int64"}
        ),
    )
    ddf = con.execute(
        entry_mod.oracle_sql()["repetition_logprob_documents"]
    ).fetchdf()
    assert sorted(ddf.columns) == cols

    def norm(v):
        if v is None:
            return None
        if isinstance(v, float):
            return None if math.isnan(v) else round(v, 6)
        return int(v) if hasattr(v, "item") or isinstance(v, int) else v

    sset = sorted(tuple(norm(r[c]) for c in cols) for r in srows)
    dset = sorted(
        tuple(norm(r[c]) for c in cols) for r in ddf.to_dict("records")
    )
    assert sset == dset, (sset, dset)


def test_contamination_null_doc_zero_grams_all_arms(spark):
    """NULL text has NO grams: every contamination arm (JVM broadcast
    join, Arrow sorted-hash kernel, Bloom prefilter) keeps the doc's
    verdict row with n_grams=0, n_hits=0, hit_rate NULL, contaminated
    false — the JVM arm used to silently DROP NULL docs (explode of a
    NULL shingle array) and the kernels used to give them the EMPTY
    doc's one-gram shingle."""
    from jsl_engine.bloom import bloom_contamination
    from jsl_engine.text_ops_arrow import contamination_arrow

    bench = spark.createDataFrame(
        [(100, "the capital of france is paris")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [(1, "the capital of france is paris today"),
         (2, None), (3, "")],
        "doc_id long, text string",
    )
    want_null_row = (2, 0, 0, None, False)
    for arm in (
        T.contamination(corpus, bench, n=3),
        contamination_arrow(corpus, bench, n=3),
        bloom_contamination(corpus, bench, n=3, expected_grams=1000),
    ):
        rows = {r.doc_id: tuple(r) for r in arm.collect()}
        assert set(rows) == {1, 2, 3}, rows
        assert rows[2] == want_null_row, rows[2]
        # the EMPTY doc keeps its single empty-word shingle (1 gram)
        assert rows[3][1] == 1 and rows[3][4] is False
        assert rows[1][4] is True


def test_verified_jaccard_pairs_exclude_null_docs(spark):
    """A candidate pair touching a NULL-text doc never verifies: NULL
    docs have no word n-grams, and without the guard array_intersect's
    NULL-equals-NULL semantics would certify NULL-NULL pairs at
    jaccard 1.0 (they are exact-dup territory instead)."""
    docs = spark.createDataFrame(
        [(1, None), (2, None), (3, "alpha beta gamma delta epsilon"),
         (4, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (3, 4)], "id_a long, id_b long"
    )
    out = T.verified_jaccard_pairs(docs, pairs, threshold=0.0).collect()
    assert {(r.id_a, r.id_b) for r in out} == {(3, 4)}


def test_dedup_exact_keeps_one_null_representative(spark):
    """NULL-text docs form ONE exact-dup group (sentinel hash): the min
    id survives, the rest collapse — a bare sha2 join key silently
    deleted every NULL doc (round-5 review regression)."""
    df = spark.createDataFrame(
        [(1, None), (2, None), (3, "a"), (4, "a"), (5, "b")],
        "doc_id long, text string",
    )
    kept = sorted(r.doc_id for r in T.dedup_exact(df).collect())
    assert kept == [1, 3, 5]


def test_chunk_documents_reconstruction(spark):
    """Sliding-window invariants: stitching chunk 0 plus each later
    chunk's post-overlap tail reproduces the exact token stream; every
    consecutive pair shares exactly the overlap tokens; pos/n_chunks
    follow the integer formula."""
    from jsl_engine.sampling import chunk_documents

    words = [f"w{i}" for i in range(237)]
    df = spark.createDataFrame([Row(doc_id=1, text=" ".join(words))])
    rows = sorted(
        chunk_documents(df, chunk_tokens=64, overlap=16, keep_text=True).collect(),
        key=lambda r: r.chunk_id,
    )
    stride = 64 - 16
    import math
    assert rows[0].n_chunks == 1 + math.ceil((237 - 64) / stride) == len(rows)
    stitched = rows[0].chunk_text.split(" ")
    for prev, cur in zip(rows, rows[1:]):
        ptoks, ctoks = prev.chunk_text.split(" "), cur.chunk_text.split(" ")
        assert ptoks[-16:] == ctoks[:16]          # shared overlap
        assert cur.pos == cur.chunk_id * stride
        stitched += ctoks[16:]
    assert stitched == words                       # lossless coverage
    assert rows[-1].n_tokens == 237 - rows[-1].pos  # short tail chunk


def test_chunk_documents_edges(spark):
    """Contract edges: a doc at/under one window is exactly one chunk, a
    doc of exactly chunk+1 tokens gains a second; NULL text yields zero
    rows; sha256 matches the rejoined window; overlap >= chunk raises."""
    from jsl_engine.sampling import chunk_documents
    import hashlib

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text=" ".join(f"t{i}" for i in range(8))),
            Row(doc_id=2, text=" ".join(f"t{i}" for i in range(9))),
            Row(doc_id=3, text=None),
            Row(doc_id=4, text="  lone   token  "),
        ],
        "doc_id long, text string",
    )
    out = chunk_documents(df, chunk_tokens=8, overlap=4, keep_text=True)
    by_doc = {}
    for r in out.collect():
        by_doc.setdefault(r.doc_id, []).append(r)
    assert 3 not in by_doc
    assert len(by_doc[1]) == 1 and by_doc[1][0].n_tokens == 8
    assert len(by_doc[2]) == 2 and by_doc[2][1].pos == 4
    assert by_doc[4][0].chunk_text == "lone token"
    for rs in by_doc.values():
        for r in rs:
            assert r.chunk_sha256 == hashlib.sha256(
                r.chunk_text.encode()
            ).hexdigest()
    with pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=8, overlap=8)


def test_chunk_documents_fuzz_reconstruction(spark):
    """Seeded fuzz over adversarial texts (unicode, long whitespace runs,
    single tokens, lengths straddling every boundary regime): for every
    (chunk_tokens, overlap) tried, stitching post-overlap tails
    reproduces each document's exact normalized token stream and the
    chunk count matches the integer formula — the operator can never
    drop or duplicate a token."""
    import math
    import random

    from jsl_engine.sampling import chunk_documents

    rng = random.Random(99)
    alphabet = ["tok", "Ω≠", "a", "xxé", "0", "世界", "z" * 30]
    rows = []
    for i in range(60):
        n = rng.choice([1, 2, 3, 7, 8, 9, 15, 16, 17, 31, 32, 33, 100])
        words = [rng.choice(alphabet) + str(rng.randrange(10)) for _ in range(n)]
        sep = rng.choice([" ", "  ", " \n ", "\t"])
        rows.append(Row(doc_id=i, text=sep.join(words)))
    df = spark.createDataFrame(rows)
    for chunk, ov in ((8, 0), (8, 4), (16, 15), (5, 1)):
        stride = chunk - ov
        out = {}
        for r in chunk_documents(df, chunk_tokens=chunk, overlap=ov,
                                 keep_text=True).collect():
            out.setdefault(r.doc_id, []).append(r)
        assert set(out) == set(range(60))
        for i, rs in out.items():
            rs.sort(key=lambda r: r.chunk_id)
            want = rows[i].text.split()
            assert rs[0].n_chunks == max(
                1, 1 + math.ceil(max(0, len(want) - chunk) / stride)
            ) == len(rs)
            stitched = rs[0].chunk_text.split(" ")
            for r in rs[1:]:
                toks = r.chunk_text.split(" ")
                assert toks == want[r.pos:r.pos + chunk]
                stitched += toks[ov:]
            assert stitched == want, (i, chunk, ov)


def test_exact_jaccard_pairs_is_the_truth(spark):
    """The inverted-index truth oracle equals a from-scratch python
    computation of every pair's word-n-gram Jaccard, and matches
    verified_jaccard_pairs run over ALL pairs (shared contract)."""
    from itertools import combinations

    docs = {
        1: "the quick brown fox jumps over the lazy dog today",
        2: "the quick brown fox jumps over the lazy dog tonight",
        3: "a completely different sentence about gardening and rich soil",
        4: "the quick brown fox jumps over the lazy dog today",  # clone of 1
        5: None,
        6: "tiny",
    }
    df = spark.createDataFrame(
        [Row(doc_id=k, text=v) for k, v in docs.items()],
        "doc_id long, text string",
    )

    def grams(t, n=3):
        w = t.lower().split()
        k = max(len(w) - n + 1, 1)
        return {" ".join(w[i:i + n]) for i in range(k)}

    want = {}
    for a, b in combinations(sorted(k for k, v in docs.items() if v), 2):
        ga, gb = grams(docs[a]), grams(docs[b])
        j = len(ga & gb) / len(ga | gb)
        if j >= 0.3:
            want[(a, b)] = round(j, 6)
    got = {(r.id_a, r.id_b): r.jaccard
           for r in T.exact_jaccard_pairs(df, threshold=0.3, n=3).collect()}
    assert got == want and (1, 4) in got and got[(1, 4)] == 1.0

    all_pairs = spark.createDataFrame(
        [Row(id_a=a, id_b=b) for a, b in combinations(range(1, 7), 2)]
    )
    via_verify = {(r.id_a, r.id_b): r.jaccard
                  for r in T.verified_jaccard_pairs(
                      df, all_pairs, n=3, threshold=0.3).collect()}
    assert via_verify == got

    with pytest.raises(ValueError, match="max_docs"):
        T.exact_jaccard_pairs(df, threshold=0.3, max_docs=2)


def _planted_pair_corpus(spark):
    """40 documents, each with a near-dup partner at moderate Jaccard:
    3 swapped words kill at most 15 of the 56 5-grams -> exact jaccard
    >= 41/71 ~ 0.58."""
    import random

    rng = random.Random(7)
    rows = []
    for i in range(40):
        words = [f"w{i}_{j}" for j in range(60)]
        rows.append(Row(doc_id=i, text=" ".join(words)))
        for j in rng.sample(range(60), 3):
            words[j] = f"alt{i}_{j}"
        rows.append(Row(doc_id=1000 + i, text=" ".join(words)))
    return spark.createDataFrame(rows)


def test_lsh_recall_report_measures_banding(spark):
    """On a corpus of planted near-dup pairs, the default banding scores
    recall 1.0 with measured candidate precision; a deliberately starved
    config (one band = single 64-bit bucket) measurably loses recall on
    borderline pairs — the report detects bad tunings, which is its
    job."""
    df = _planted_pair_corpus(spark)

    # 16 bands x 4 hashes at pair jaccard ~0.58: banding theory gives
    # 1-(1-p^4)^16 ~ 0.85 — the report must MEASURE that, not the
    # formula's uniform-hash idealization of some other corpus
    [mid] = T.lsh_recall_report(
        df, threshold=0.5, sample_docs=80, num_hashes=64, bands=16
    ).collect()
    assert mid.n_docs == 80
    assert mid.true_pairs >= 35            # the planted pairs survive at 0.5
    assert 0.6 <= mid.recall < 1.0         # measured 0.85 on this corpus
    assert mid.candidate_precision == 1.0  # nothing random collides here

    # 32 bands x 2 hashes: 1-(1-p^2)^32 ~ 1 at p >= 0.55 — the tuning
    # the report would recommend for this threshold
    [good] = T.lsh_recall_report(
        df, threshold=0.5, sample_docs=80, num_hashes=64, bands=32
    ).collect()
    assert good.true_pairs == mid.true_pairs
    assert good.recall >= 0.95

    [bad] = T.lsh_recall_report(
        df, threshold=0.5, sample_docs=80, num_hashes=64, bands=1
    ).collect()
    # one 64-hash band: collision needs ALL 64 minhashes equal — at
    # jaccard ~0.55-0.7 that is p^64 ~ 0 for planted pairs
    assert bad.true_pairs == mid.true_pairs
    assert (bad.recall or 0.0) < 0.2
    assert bad.recall < mid.recall and mid.recall < good.recall


def test_lsh_recall_report_measures_the_job_hash_family(spark):
    """The report bands the Arrow MinHash signatures, the family
    ``jobs/dedup_job.py`` bands: its candidate and verified counts equal
    those of the Arrow pipeline on the same salted sample. The sample
    (60 of 80 documents) cuts some planted pairs, and at 16 bands x 4
    rows the banding of the rest is borderline, so another hash family
    proposes a different candidate set."""
    from jsl_engine.sampling import SALT_RECALL_EVAL, order_hash
    from jsl_engine.text_ops_arrow import minhash_signatures_arrow

    df = _planted_pair_corpus(spark)
    [rep] = T.lsh_recall_report(
        df, threshold=0.5, sample_docs=60, num_hashes=64, bands=16
    ).collect()
    sample = (
        df.withColumn("__h", order_hash("doc_id", SALT_RECALL_EVAL))
        .orderBy("__h", "doc_id")
        .limit(60)
        .drop("__h")
        .localCheckpoint()
    )
    cands = T.lsh_candidate_pairs(
        minhash_signatures_arrow(sample), "doc_id", 16, max_bucket=64,
        num_hashes=64,
    ).localCheckpoint()
    verified = T.verified_jaccard_pairs(sample, cands, n=5, threshold=0.5)
    assert rep.n_docs == 60
    assert rep.candidate_pairs == cands.count()
    assert rep.verified_pairs == verified.count()


def test_verified_jaccard_matches_ngram_jaccard(spark):
    """The hashed-gram verify tail emits exactly the rows of the
    string-gram reference :func:`ngram_jaccard` filtered at the
    threshold (64-bit-hash counts == string-gram counts absent a 2^-64
    collision), across the duplicate-heavy, short-doc, empty,
    whitespace-only, case/punctuation and non-ASCII regimes, at
    threshold 0 and 0.5. A pair touching a NULL doc is never emitted."""
    texts = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta IOTA"),
        (3, "one two three four five six seven eight nine"),
        (4, "one two three four five six seven eight nine"),
        (5, "short doc"),
        (6, "short doc"),
        (7, None),
        (8, ""),
        (9, "   \t\n  "),
        (10, "Alpha Beta Gamma Delta Epsilon Zeta Eta Theta"),
        (11, "alpha, beta; gamma delta! epsilon zeta eta theta."),
        (12, "die straße ist lang und die Strasse ist breit heute"),
        (13, "die STRASSE ist lang und die straße ist breit heute"),
        (14, "σοφός λόγος σοφίας ὁδός ἐστιν ἀεὶ καὶ πάντως"),
        (15, "ΣΟΦΟΣ ΛΟΓΟΣ ΣΟΦΙΑΣ ὁδός ἐστιν ἀεὶ καὶ πάντως"),
        (16, "İstanbul ılık ıslak İzmir istanbul Izmir ılık ıslak"),
        (17, "istanbul ılık ıslak izmir İstanbul Izmir ılık ıslak"),
        (18, "東京 大阪 京都 名古屋 札幌 福岡 神戸 横浜"),
        (19, "東京 大阪 京都 名古屋 札幌 福岡 神戸 川崎"),
        (20, "東京大阪京都名古屋札幌福岡神戸横浜"),
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(1, 2), (3, 4), (5, 6), (1, 7), (1, 3),
         (8, 9), (8, 5), (9, 9), (1, 10), (1, 11), (10, 11),
         (12, 13), (14, 15), (16, 17), (18, 19), (18, 20), (19, 20),
         (8, 7), (12, 12)],
        "id_a long, id_b long",
    )
    ref = T.ngram_jaccard(docs, pairs, n=5)
    for thr in (0.0, 0.5):
        got = {
            tuple(r)
            for r in T.verified_jaccard_pairs(
                docs, pairs, threshold=thr
            ).collect()
        }
        want = {tuple(r) for r in ref.where(f"jaccard >= {thr}").collect()}
        assert got == want, (thr, got ^ want)
        assert not {(a, b) for a, b, _ in got} & {(1, 7), (8, 7)}
    assert (5, 6, 1.0) in got and (1, 7, 1.0) not in got
