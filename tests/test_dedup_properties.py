"""Property tests for the dedup family (SURVEY.md §5.3.3).

Invariants that no oracle query pins but every dedup pipeline depends on:
idempotence (dedup ∘ dedup = dedup), survivor determinism (min-id wins
whatever the partitioning), and normalization insensitivity (case/whitespace
variants of one text collapse to one survivor). Hypothesis drives the text
generator; one Spark job per example keeps the count small.
"""

from __future__ import annotations

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from big_data__instagram_analysis_spark.operators.dedup import exact_dedup

texts = st.lists(
    st.text(
        alphabet=st.sampled_from(list("ab #\tXY")),
        min_size=0,
        max_size=12,
    ),
    min_size=1,
    max_size=12,
)


def _mkdf(spark, ids, rows):
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": list(ids), "text": list(rows)}).astype(
            {"doc_id": "int64"}
        )
    )


def _dedup_ids(spark, ids, rows) -> list[int]:
    return sorted(
        r["doc_id"] for r in exact_dedup(_mkdf(spark, ids, rows)).collect()
    )


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=texts)
def test_exact_dedup_idempotent_and_min_id_survivor(spark, rows):
    survivors = _dedup_ids(spark, range(len(rows)), rows)

    # Survivor determinism: for each normalized class, the min doc_id wins.
    def norm(s: str) -> str:
        return " ".join(s.lower().split())

    classes: dict[str, int] = {}
    for i, t in enumerate(rows):
        classes.setdefault(norm(t), i)
    assert survivors == sorted(classes.values())

    # Idempotence: dedup over the surviving (id, text) rows changes nothing.
    keep = set(survivors)
    again = _dedup_ids(
        spark,
        [i for i in range(len(rows)) if i in keep],
        [t for i, t in enumerate(rows) if i in keep],
    )
    assert again == survivors


def test_case_whitespace_variants_collapse(spark):
    rows = ["Hello  World", "hello world", "  HELLO\tWORLD ", "other doc"]
    assert _dedup_ids(spark, range(4), rows) == [0, 3]


def test_vertical_tab_parity_engine_vs_oracle(spark):
    """ADVICE r11: Java '\\s' includes \\x0B, RE2 '\\s' does not — the
    normalization whitespace class is now pinned explicitly on both engines
    (operators/dedup.py WS_RE), so a vertical-tab text must normalize
    identically in Spark and DuckDB. Every whitespace char in the class is
    exercised, plus the \\x0B case that used to diverge."""
    import duckdb

    from big_data__instagram_analysis_spark.operators.dedup import (
        WS_RE_SQL,
        normalize_text,
    )

    texts = [
        "a\x0bb",  # the divergent char: RE2 \s misses it
        "a \t\r\n\x0b\fb",  # full class run
        "\x0b lead and trail \x0b",
        "plain text",
    ]
    sdf = spark.createDataFrame([(t,) for t in texts], "text string")
    got_spark = [
        r[0] for r in sdf.select(normalize_text(F.col("text"))).collect()
    ]
    con = duckdb.connect()
    got_duck = [
        con.execute(
            "SELECT trim(regexp_replace(lower(?), "
            f"'{WS_RE_SQL}', ' ', 'g'))",
            [t],
        ).fetchone()[0]
        for t in texts
    ]
    assert got_spark == got_duck
    assert got_spark[0] == "a b"  # \x0B collapsed, not preserved


# --- n-gram Jaccard pairs vs brute-force python -------------------------------


_JWORDS = ["join", "scan", "merge", "hash", "row", "batch", "sort", "key"]


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.lists(st.sampled_from(_JWORDS), min_size=3, max_size=9).map(
            " ".join
        ),
        min_size=2,
        max_size=10,
    )
)
def test_ngram_jaccard_pairs_vs_bruteforce(spark, texts):
    """The shared-shingle pair operators must return exactly the pairs
    (and exactly the values) a brute-force python shingle comparison
    computes — the Jaccard pairs every near-dup family leans on as ground
    truth, the containment pairs and the integer-ppm candidate pairs all
    read operators/dedup.shingle_pair_counts, and each gets the same
    independent oracle."""
    from big_data__instagram_analysis_spark.io import local_frame
    from big_data__instagram_analysis_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
        shingle_pair_ppm,
    )

    # A LocalRelation: each operator's eager shingle job starts no Python
    # worker tasks for the input frame.
    df = local_frame(spark, list(enumerate(texts)), "doc_id long, text string")

    def shingles(t):
        ws = [w for w in t.split(" ") if w]
        return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}

    sh = {i: shingles(t) for i, t in enumerate(texts)}
    # (a, b) -> (|A ∩ B|, |A|, |B|) for every pair sharing a shingle.
    counts = {
        (a, b): (len(sh[a] & sh[b]), len(sh[a]), len(sh[b]))
        for a in sh
        for b in sh
        if a < b and sh[a] & sh[b]
    }

    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(df, n=3, threshold=0.3).collect()
    }
    expected = {}
    for pair, (inter, na, nb) in counts.items():
        j = inter / (na + nb - inter)
        if j >= 0.3:
            expected[pair] = round(j, 6)
    assert got == expected, (got, expected)

    got = {
        (r.doc_small, r.doc_big): (r.containment, r.jaccard)
        for r in ngram_containment_pairs(df, n=3, threshold=0.5).collect()
    }
    expected = {}
    for (a, b), (inter, na, nb) in counts.items():
        if inter / min(na, nb) >= 0.5:
            key = (a, b) if na <= nb else (b, a)
            expected[key] = (
                round(inter / min(na, nb), 6),
                round(inter / (na + nb - inter), 6),
            )
    assert got == expected, (got, expected)

    got = {
        (r.doc_a, r.doc_b): (r.jac_ppm, r.is_edge)
        for r in shingle_pair_ppm(df, n=3).collect()
    }
    expected = {
        pair: (inter * 1_000_000 // (na + nb - inter), 2 * inter >= na + nb - inter)
        for pair, (inter, na, nb) in counts.items()
    }
    assert got == expected, (got, expected)


@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from(list("ab c")),  # tiny alphabet → heavy
            min_size=0,                              # dup/empty-token traffic
            max_size=40,
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_shingle_rows_equals_token_shingles(spark, texts):
    """shingle_rows (the zip-slice exploded form) must produce EXACTLY the
    distinct (doc, shingle) set of token_shingles (in-row HOF form) — the
    equivalence that lets hot paths swap in the fast shape. Fuzzes empty
    tokens, consecutive spaces, short docs, and repeated shingles."""
    from pyspark.sql import functions as F

    from big_data__instagram_analysis_spark.operators.dedup import (
        shingle_rows,
        token_shingles,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r["doc_id"], r["s"])
        for r in shingle_rows(df, n=3).collect()
    }
    want = {
        (r["doc_id"], r["s"])
        for r in df.select(
            "doc_id", F.explode(token_shingles(F.col("text"), 3)).alias("s")
        ).collect()
    }
    assert got == want


def test_threshold_sweep_matches_python_brute_force(spark, sf_dir):
    """E243 differential: python recomputes distinct token-trigram sets,
    every shared-shingle pair's integer-permille Jaccard, and the decile
    histogram."""
    from big_data__instagram_analysis_spark.queries.llm_dedup import (
        neardup_threshold_sweep,
    )

    rows = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    shingles = {}
    for r in rows:
        t = [x for x in r["text"].split(" ") if x != ""]
        shingles[r["doc_id"]] = {
            " ".join(t[i : i + 3]) for i in range(len(t) - 2)
        }
    by_sh = {}
    for d, s in shingles.items():
        for sh in s:
            by_sh.setdefault(sh, []).append(d)
    shared = {}
    for docs in by_sh.values():
        docs = sorted(docs)
        for i in range(len(docs)):
            for j in range(i + 1, len(docs)):
                k = (docs[i], docs[j])
                shared[k] = shared.get(k, 0) + 1
    hist = {}
    for (a, b), n in shared.items():
        pm = n * 1000 // (len(shingles[a]) + len(shingles[b]) - n)
        dec = min(9, pm // 100)
        lo, hi, cnt = hist.get(dec, (10**9, -1, 0))
        hist[dec] = (min(lo, pm), max(hi, pm), cnt + 1)
    got = {
        r["decile"]: (r["min_jac_pm"], r["max_jac_pm"], r["n_pairs"])
        for r in neardup_threshold_sweep(spark, sf_dir).collect()
    }
    assert got == hist and len(got) > 0


# ---------------------------------------------------------------------------
# E269: token-budget shard packing — python-reference invariants
# ---------------------------------------------------------------------------


def test_pack_shards_matches_python_reference(spark, sf_dir):
    """Re-pack in plain python (per-source doc_id order, offset rule) and
    require identical manifests, plus the offset-sharding invariants: shard
    ids per source are contiguous from 0; every shard except a source's
    last STARTS below budget·(shard+1) (straddle allowed — a doc belongs to
    the shard it starts in); doc ranges are disjoint and ordered."""
    from big_data__instagram_analysis_spark.queries.pipeline_ops import (
        PACK_TOKEN_BUDGET,
        pack_shards_token_budget,
    )

    rows = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("source", "doc_id", "text")
        .collect()
    )
    by_src = {}
    for r in sorted(rows, key=lambda r: (r.source, r.doc_id)):
        n_tok = len([t for t in r.text.split(" ") if t])
        cum = by_src.setdefault(r.source, {"cum": 0, "shards": {}})
        sid = cum["cum"] // PACK_TOKEN_BUDGET
        s = cum["shards"].setdefault(sid, [0, 0, r.doc_id, r.doc_id])
        s[0] += 1
        s[1] += n_tok
        s[3] = r.doc_id
        cum["cum"] += n_tok

    got = pack_shards_token_budget(spark, sf_dir).collect()
    exp = {
        (src, sid): tuple(v)
        for src, d in by_src.items()
        for sid, v in d["shards"].items()
    }
    assert len(got) == len(exp)
    for g in got:
        nd, nt, first, last = exp[(g.source, g.shard_id)]
        assert (g.n_docs, g.tokens, g.first_doc, g.last_doc) == (
            nd,
            nt,
            first,
            last,
        )
    # contiguity + ordering per source
    for src, d in by_src.items():
        sids = sorted(d["shards"])
        assert sids == list(range(len(sids)))
        ranges = [d["shards"][s][2:] for s in sids]
        for (a0, a1), (b0, b1) in zip(ranges, ranges[1:]):
            assert a1 < b0  # disjoint, ordered doc ranges


# ---------------------------------------------------------------------------
# E270: sorted-neighborhood blocking — python-reference invariants
# ---------------------------------------------------------------------------


def test_sorted_neighborhood_matches_python_reference(spark, sf_dir):
    """Re-run SNM in plain python (block on first-2 normalized chars, sort
    by (key, doc_id), adjacent pairs sharing a 16-char prefix) and require
    the identical pair set with identical exact integer-ppm Jaccard."""
    from big_data__instagram_analysis_spark.queries.llm_dedup import (
        SNM_BLOCK,
        SNM_PREFIX,
        sorted_neighborhood_neardup,
    )

    rows = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    recs = []
    for r in rows:
        key = r.text.lower().replace(" ", "")
        toks = set(t for t in r.text.split(" ") if t)
        recs.append((key[:SNM_BLOCK], key, r.doc_id, toks))
    exp = {}
    by_block = {}
    for blk, key, doc, toks in sorted(recs, key=lambda x: (x[0], x[1], x[2])):
        prev = by_block.get(blk)
        if prev is not None and prev[0][:SNM_PREFIX] == key[:SNM_PREFIX]:
            inter = len(prev[2] & toks)
            uni = len(prev[2] | toks)
            exp[(prev[1], doc)] = inter * 1_000_000 // uni
        by_block[blk] = (key, doc, toks)

    got = sorted_neighborhood_neardup(spark, sf_dir).collect()
    assert {(g.doc_a, g.doc_b): g.jac_ppm for g in got} == exp
    assert len(got) > 0  # non-vacuous on the fixture


# ---------------------------------------------------------------------------
# E271: Neyman allocation — exactness invariants
# ---------------------------------------------------------------------------


def test_neyman_allocation_invariants(spark, sf_dir):
    """Σ alloc_n == budget exactly (largest remainder), weights ∝ N·σ
    (python recompute), and ppm consistency."""
    import math

    from big_data__instagram_analysis_spark.queries.pipeline_ops import (
        NEYMAN_BUDGET,
        neyman_allocation_split,
    )

    rows = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_orderpriority", "o_totalprice")
        .collect()
    )
    by = {}
    for r in rows:
        by.setdefault(r.o_orderpriority, []).append(
            math.floor(r.o_totalprice * 100 + 0.5)
        )
    exp_w = {}
    for s, cents in by.items():
        n = len(cents)
        s1 = sum(cents)
        s2 = sum(c * c for c in cents)
        var = (float(s2) - float(s1) * float(s1) / n) / (n - 1)
        exp_w[s] = math.floor(n * math.sqrt(var) + 0.5)

    got = neyman_allocation_split(spark, sf_dir).collect()
    assert sum(g.alloc_n for g in got) == NEYMAN_BUDGET
    for g in got:
        assert g.weight_u == exp_w[g.stratum]
        assert g.n_rows == len(by[g.stratum])
        assert g.sampling_ppm == g.alloc_n * 1_000_000 // g.n_rows
    # Neyman dominance: the largest-weight stratum gets the largest alloc.
    top_w = max(got, key=lambda g: g.weight_u)
    assert top_w.alloc_n == max(g.alloc_n for g in got)


# ---------------------------------------------------------------------------
# E272: source overlap matrix — invariants vs the exact pair set
# ---------------------------------------------------------------------------


def test_source_overlap_matrix_matches_pairs(spark, sf_dir):
    """Rebuild the matrix in python from ngram_jaccard_neardup's exact
    pair set + the doc→source map: cells, pair counts and integer-ppm
    stats must match; matrix must be canonical (source_a <= source_b)."""
    from big_data__instagram_analysis_spark.queries.llm_dedup import (
        ngram_jaccard_neardup,
        source_overlap_matrix,
    )

    src = {
        r.doc_id: r.source
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "source")
        .collect()
    }
    cells = {}
    for p in ngram_jaccard_neardup(spark, sf_dir).collect():
        sa, sb = sorted((src[p.doc_a], src[p.doc_b]))
        ppm = int(p.jaccard * 1_000_000 + 0.5)  # oracle rounds at 6dp = ppm
        c = cells.setdefault((sa, sb), [0, set(), set(), []])
        c[0] += 1
        c[1].add(p.doc_a)
        c[2].add(p.doc_b)
        c[3].append(ppm)

    got = source_overlap_matrix(spark, sf_dir).collect()
    assert {(g.source_a, g.source_b) for g in got} == set(cells)
    for g in got:
        assert g.source_a <= g.source_b
        n, da, db, ppms = cells[(g.source_a, g.source_b)]
        assert g.n_pairs == n
        assert g.docs_involved == len(da) + len(db)
        # The query TRUNCATES (shared*1e6 div union); this reconstruction
        # ROUNDS the 6dp jaccard — they may differ by exactly 1 ppm.
        assert abs(g.min_jac_ppm - min(ppms)) <= 1
        assert abs(g.max_jac_ppm - max(ppms)) <= 1
        assert abs(g.mean_jac_ppm - sum(ppms) // n) <= 1


def test_neardup_cluster_quality_matches_python(spark, sf_dir):
    """Full python reference for E273 on the fixture corpus: brute-force
    shingle sets → candidate pairs (≥1 shared shingle) → integer ppm →
    threshold edges → union-find components → intra/cross labeling →
    per-class stats. Independent of every Spark operator involved
    (shingle_rows, the SHJ pair join, large-star/small-star CC)."""
    from big_data__instagram_analysis_spark.queries.llm_dedup import (
        neardup_cluster_quality,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )

    def shingles(t):
        ws = [w for w in t.split(" ") if w]
        return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}

    sh = {r.doc_id: shingles(r.text) for r in docs}
    ids = sorted(sh)
    cand = {}  # (a,b) -> (ppm, is_edge)
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sh[a] & sh[b])
            if not inter:
                continue
            union = len(sh[a]) + len(sh[b]) - inter
            ppm = inter * 1_000_000 // union
            edge = 2 * inter >= union
            cand[(a, b)] = (ppm, edge)
            if edge:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)

    classes = {}
    for (a, b), (ppm, _e) in cand.items():
        key = find(a) == find(b)
        c = classes.setdefault(key, [0, set(), set(), []])
        c[0] += 1
        c[1].add(a)
        c[2].add(b)
        c[3].append(ppm)

    got = neardup_cluster_quality(spark, sf_dir).collect()
    assert {g.is_intra for g in got} == set(classes)
    for g in got:
        n, da, db, ppms = classes[g.is_intra]
        assert g.n_pairs == n
        assert g.docs_involved == len(da) + len(db)
        assert g.min_jac_ppm == min(ppms)
        assert g.max_jac_ppm == max(ppms)
        assert g.mean_jac_ppm == sum(ppms) // n
    # Sanity on the semantics: every threshold edge is intra by
    # construction, so the intra class exists whenever any edge does.
    if any(e for (_p, e) in cand.values()):
        assert any(g.is_intra for g in got)


def test_ngram_jaccard_dfcap_binds_and_matches_bruteforce(spark):
    """E274 on a constructed corpus where the df cap BINDS: 20 docs share
    one boilerplate trigram (df=20 > 16 → dropped), two near-dup doc
    pairs share rare trigrams (df=2 → kept). Python brute force computes
    Jaccard in the capped shingle space; the boilerplate-only doc pairs
    must NOT appear (without the cap every one of the 190 boilerplate
    pairs is a candidate)."""
    from big_data__instagram_analysis_spark.queries.llm_dedup import (
        NGRAM_DF_CAP,
        ngram_jaccard_dfcap,
    )

    boiler = "click here to subscribe now"
    rows = []
    for i in range(20):
        rows.append((i, f"{boiler} unique{i} filler{i} tail{i}"))
    # two true near-dup pairs with rare shared content
    rows.append((100, "alpha beta gamma delta epsilon zeta"))
    rows.append((101, "alpha beta gamma delta epsilon eta"))
    rows.append((200, "one two three four five six seven"))
    rows.append((201, "one two three four five six eight"))

    import os
    import tempfile

    import pandas as pd

    from big_data__instagram_analysis_spark.io import scratch_dir

    with tempfile.TemporaryDirectory(dir=scratch_dir()) as td:
        pd.DataFrame(
            {
                "doc_id": [r[0] for r in rows],
                "text": [r[1] for r in rows],
                "lang": "en",
                "source": "src0",
                "n_chars": [len(r[1]) for r in rows],
            }
        ).astype({"doc_id": "int64", "n_chars": "int64"}).to_parquet(
            os.path.join(td, "documents.parquet")
        )
        got = {
            (r.doc_a, r.doc_b): r.jac_ppm
            for r in ngram_jaccard_dfcap(spark, td).collect()
        }

    def shingles(t):
        ws = [w for w in t.split(" ") if w]
        return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}

    sh = {i: shingles(t) for i, t in rows}
    df = {}
    for s_set in sh.values():
        for s in s_set:
            df[s] = df.get(s, 0) + 1
    capped = {
        i: {s for s in s_set if df[s] <= NGRAM_DF_CAP}
        for i, s_set in sh.items()
    }
    expected = {}
    for a in sorted(capped):
        for b in sorted(capped):
            if a < b and capped[a] & capped[b]:
                inter = len(capped[a] & capped[b])
                union = len(capped[a]) + len(capped[b]) - inter
                if 2 * inter >= union:
                    expected[(a, b)] = inter * 1_000_000 // union
    assert got == expected, (got, expected)
    # The cap must actually bind: boilerplate trigrams had df=20.
    assert any(v > NGRAM_DF_CAP for v in df.values())
    assert (100, 101) in got and (200, 201) in got
    assert all(a >= 100 for (a, b) in got)  # no boilerplate-only pairs


def test_dedup_governance_rollup_matches_python(spark, sf_dir):
    """Full python reference for E275: exact-dedup ledger (normalize →
    group → min-id survivor → per-source token accounting) + near-dup
    exposure (brute-force shingle pairs ≥ 0.5 → double-sided endpoint
    accounting). Independent of every Spark operator involved."""
    import hashlib
    import re as _re

    from big_data__instagram_analysis_spark.queries.llm_dedup import (
        dedup_governance_rollup,
    )

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "source", "text")
        .collect()
    )

    # exact half
    groups: dict[str, int] = {}
    per = {}
    for r in sorted(docs, key=lambda r: r.doc_id):
        norm = _re.sub(r"\s+", " ", r.text.lower()).strip()
        h = hashlib.sha256(norm.encode()).hexdigest()
        surv = h not in groups
        if surv:
            groups[h] = r.doc_id
        n_tok = len([w for w in r.text.split(" ") if w])
        e = per.setdefault(r.source, [0, 0, 0, 0])  # docs_b, docs_a, tok_b, tok_kept
        e[0] += 1
        e[1] += 1 if surv else 0
        e[2] += n_tok
        e[3] += n_tok if surv else 0

    # near-dup half
    def shingles(t):
        ws = [w for w in t.split(" ") if w]
        return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}

    sh = {r.doc_id: shingles(r.text) for r in docs}
    src = {r.doc_id: r.source for r in docs}
    ids = sorted(sh)
    stats = {}  # source -> [self, cross, partner set]
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sh[a] & sh[b])
            if not inter or 2 * inter < len(sh[a]) + len(sh[b]) - inter:
                continue
            sa, sb = src[a], src[b]
            if sa == sb:
                stats.setdefault(sa, [0, 0, set()])[0] += 1
            else:
                stats.setdefault(sa, [0, 0, set()])
                stats.setdefault(sb, [0, 0, set()])
                stats[sa][1] += 1
                stats[sb][1] += 1
                stats[sa][2].add(sb)
                stats[sb][2].add(sa)

    got = dedup_governance_rollup(spark, sf_dir).collect()
    assert sorted(g.source for g in got) == sorted(per)
    for g in got:
        db, da, tb, tk = per[g.source]
        assert (g.docs_before, g.docs_after, g.tokens_before) == (db, da, tb)
        assert g.exact_savings_ppm == (tb - tk) * 1_000_000 // tb
        s = stats.get(g.source, [0, 0, set()])
        assert g.neardup_self_pairs == s[0]
        assert g.neardup_cross_pairs == s[1]
        assert g.cross_partner_sources == len(s[2])


# --- E276: banding recall curve vs python brute force -------------------------


def test_banding_recall_curve_matches_python(spark, sf_dir):
    """minhash_banding_recall_curve's entire pipeline — md5 minhash
    signatures, band collision candidates per (b, r), exact ground truth,
    integer ppm ratios — re-derived in plain python on the sf0.001 corpus.
    This certifies the SPARK side independently of the DuckDB oracle (the
    two could in principle share a bug; hashlib cannot)."""
    import hashlib
    from itertools import combinations

    from big_data__instagram_analysis_spark.registry import get_specs

    got = {
        (r["b"], r["r"]): r
        for r in get_specs()["minhash_banding_recall_curve"]
        .fn(spark, sf_dir)
        .collect()
    }

    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    sh = {}
    for did, text in docs.items():
        toks = [t for t in text.split(" ") if t]
        sh[did] = {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }
    sh = {d: s for d, s in sh.items() if s}  # no shingles -> no signature

    def h(i, s):
        return int(
            hashlib.md5(f"{i}:{s}".encode()).hexdigest()[:15], 16
        )

    sig = {
        d: [min(h(i, s) for s in ss) for i in range(16)]
        for d, ss in sh.items()
    }
    truth = set()
    for a, b in combinations(sorted(sh), 2):
        inter = len(sh[a] & sh[b])
        if 2 * inter >= len(sh[a]) + len(sh[b]) - inter:
            truth.add((a, b))

    for b_cfg, r_cfg in [(16, 1), (8, 2), (4, 4), (2, 8)]:
        cand = set()
        for a, bb in combinations(sorted(sig), 2):
            for j in range(b_cfg):
                lo = j * r_cfg
                if sig[a][lo : lo + r_cfg] == sig[bb][lo : lo + r_cfg]:
                    cand.add((a, bb))
                    break
        hits = len(cand & truth)
        row = got[(b_cfg, r_cfg)]
        assert row["n_truth"] == len(truth)
        assert row["n_candidates"] == len(cand), (b_cfg, r_cfg)
        assert row["n_hits"] == hits, (b_cfg, r_cfg)
        assert row["recall_ppm"] == (
            hits * 1_000_000 // len(truth) if truth else 0
        )
        assert row["precision_ppm"] == (
            hits * 1_000_000 // len(cand) if cand else 0
        )
    # The sweep itself must be non-vacuous: ground truth exists, and the
    # r=8 banding must trade recall below the r=1 banding's (or equal at
    # 100% only if every truth pair is a near-exact dup).
    assert truth, "no ground-truth pairs at sf0.001 — vacuous sweep"
    assert got[(16, 1)]["recall_ppm"] >= got[(2, 8)]["recall_ppm"]


# --- E277: capped-LSH recall vs the capped exact pair set --------------------


def test_minhash_lsh_dfcap_equals_capped_exact(spark, sf_dir):
    """minhash_lsh_dfcap (banding + exact verify over the df-capped
    shingle space) must emit EXACTLY the >=0.5 pairs of ngram_jaccard_dfcap
    (the capped exact join): any missing pair is a banding recall failure,
    any extra pair a verify failure. This is the Spark-side certification
    that the boilerplate-proof path loses nothing vs the exact form."""
    from big_data__instagram_analysis_spark.registry import get_specs

    specs = get_specs()
    lsh = {
        (r["doc_a"], r["doc_b"]): r["jac_ppm"]
        for r in specs["minhash_lsh_dfcap"].fn(spark, sf_dir).collect()
    }
    exact = {
        (r["doc_a"], r["doc_b"]): r["jac_ppm"]
        for r in specs["ngram_jaccard_dfcap"].fn(spark, sf_dir).collect()
    }
    assert lsh == exact
    assert lsh, "no capped >=0.5 pairs at this tier — vacuous certification"


# --- E278: pipeline ledger consistency with its component queries ------------


def test_governance_pipeline_consistent_with_components(spark, sf_dir):
    """dedup_governance_pipeline must agree with the operators it chains:
    the after-exact column block is exactly dedup_savings_by_source's
    accounting (same survivors, same tokens), the near-dup stage can only
    shrink a source's ledger, and the global after-exact totals equal the
    exact_dedup survivor count."""
    from big_data__instagram_analysis_spark.operators.dedup import exact_dedup
    from big_data__instagram_analysis_spark.registry import get_specs

    specs = get_specs()
    pipe = {
        r["source"]: r
        for r in specs["dedup_governance_pipeline"].fn(spark, sf_dir).collect()
    }
    sav = {
        r["source"]: r
        for r in specs["dedup_savings_by_source"].fn(spark, sf_dir).collect()
    }
    assert set(pipe) == set(sav)
    for src, p in pipe.items():
        s = sav[src]
        assert p["docs_raw"] == s["docs_before"], src
        assert p["docs_after_exact"] == s["docs_after"], src
        assert p["tokens_raw"] == s["tokens_before"], src
        assert p["exact_savings_ppm"] == s["token_savings_ppm"], src
        # near-dup canonicalization only ever removes docs/tokens
        assert p["docs_after_neardup"] <= p["docs_after_exact"], src
        assert p["tokens_after_neardup"] <= p["tokens_after_exact"], src
        assert p["neardup_extra_savings_ppm"] >= 0, src

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_surv = exact_dedup(d, text_col="text", id_col="doc_id").count()
    assert sum(p["docs_after_exact"] for p in pipe.values()) == n_surv
    # Non-vacuous: the near-dup stage must actually remove docs at this
    # tier (the fixture has near-dup pairs but MAY have zero exact dups —
    # sf0.001 is 500 unique texts; the exact-stage ledger is already bound
    # by the dedup_savings_by_source equality block above).
    assert sum(p["docs_raw"] for p in pipe.values()) >= n_surv
    assert sum(p["docs_after_neardup"] for p in pipe.values()) < n_surv
