"""Property-based tests (hypothesis) for the engine's small pure cores:
the numeric-or-alpha sort key, the DDL lexer, splitter and shim, and
exact-cents arithmetic. The reference ships no property tests at all
(SURVEY.md §5); these pin the semantics its harness only spot-checks."""

from __future__ import annotations

import re
from decimal import ROUND_HALF_UP, Decimal

from hypothesis import given, settings
from hypothesis import strategies as st

from database_migrator_spark.migrator.ddl import lex, split_statements, translate_statement
from database_migrator_spark.migrator.model import numeric_or_alpha_key

_name = st.text(
    alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Nd"), whitelist_characters="-_."),
    min_size=1,
    max_size=20,
)


@given(st.lists(_name, min_size=1, max_size=30))
@settings(max_examples=200, deadline=None)
def test_sort_key_total_order_and_numeric_semantics(names):
    ordered = sorted(names, key=numeric_or_alpha_key)
    # totality + stability: sorting twice is idempotent
    assert sorted(ordered, key=numeric_or_alpha_key) == ordered
    # numeric prefixes dominate: leading digits compare as integers
    for a, b in zip(ordered, ordered[1:]):
        ka, kb = numeric_or_alpha_key(a), numeric_or_alpha_key(b)
        assert ka <= kb


@given(_name)
@settings(max_examples=200, deadline=None)
def test_sort_key_matches_reference_regex(name):
    m = re.match(r"^(\d+)(.*)$", name, re.DOTALL)
    expected = (int(m.group(1)), m.group(2)) if m else (0, name)
    assert numeric_or_alpha_key(name) == expected


_sql_fragment = st.text(
    alphabet=st.characters(blacklist_characters="\\", blacklist_categories=("Cs",)),
    max_size=30,
)


@given(st.lists(_sql_fragment, min_size=1, max_size=5))
@settings(max_examples=200, deadline=None)
def test_split_statements_preserves_literal_content(fragments):
    """Semicolons inside single-quoted literals never split; every
    non-empty statement's literal payload survives verbatim."""
    literals = [frag.replace("'", "''") for frag in fragments]
    script = "; ".join(f"INSERT INTO t VALUES ('{lit}')" for lit in literals)
    stmts = split_statements(script)
    assert len(stmts) == len(literals)
    for lit, stmt in zip(literals, stmts):
        assert f"('{lit}')" in stmt


_SQL_CHARS = "ab ;'\"-/*$\\\n"


@given(st.one_of(st.text(), st.text(alphabet=_SQL_CHARS + "q_1", max_size=60)))
@settings(max_examples=300, deadline=None)
def test_lex_is_lossless(text):
    segments = list(lex(text))
    assert "".join(t for _, t in segments) == text
    assert {k for k, _ in segments} <= {"code", "comment", "string", "ident", "dollar"}


_inner = st.text(alphabet=_SQL_CHARS, max_size=12)


def _dollar(tag: str, body: str) -> str:
    return f"${tag}${body}${tag}$"


# segments with their kinds, built independently of the lexer; each
# non-code kind may hold semicolons, quotes and comment markers
_noncode = st.one_of(
    _inner.map(lambda s: ("comment", "--" + s.replace("\n", "") + "\n")),
    _inner.filter(lambda s: "*/" not in s).map(lambda s: ("comment", f"/*{s}*/")),
    _inner.map(lambda s: ("string", "'" + s.replace("\\", "\\\\").replace("'", "''") + "'")),
    _inner.map(lambda s: ("ident", '"' + s.replace('"', '""') + '"')),
    st.tuples(st.sampled_from(["", "q"]), _inner)
    .filter(lambda tb: (tb[1] + f"${tb[0]}$").find(f"${tb[0]}$") == len(tb[1]))
    .map(lambda tb: ("dollar", _dollar(*tb))),
)
_code = st.sampled_from(
    ["CREATE TABLE t", "CREATE INDEX i ON t", "(", ")", ",", "x", "INT", "TEXT",
     "SERIAL", "AUTO_INCREMENT", "PRIMARY KEY", "UNIQUE", "CONSTRAINT c", "\n"]
).map(lambda c: ("code", c))
_SEMI = ("code", ";")


def _join(tokens) -> str:
    return " ".join(t for _, t in tokens)


@given(st.lists(st.one_of(_noncode, _code, st.just(_SEMI)), max_size=20))
@settings(max_examples=300, deadline=None)
def test_statement_boundaries_fall_only_in_code(tokens):
    """The lexer finds exactly the generated non-code segments, and the
    splitter cuts only at the semicolon tokens, dropping the statements
    that are nothing but comments and whitespace."""
    script = _join(tokens)
    assert [s for s in lex(script) if s[0] != "code"] == [t for t in tokens if t[0] != "code"]
    groups: list[list] = [[]]
    for tok in tokens:
        if tok == _SEMI:
            groups.append([])
        else:
            groups[-1].append(tok)
    assert split_statements(script) == [
        _join(g).strip() for g in groups if any(k != "comment" and t.strip() for k, t in g)
    ]


@given(st.lists(st.one_of(_noncode, _code), max_size=20))
@settings(max_examples=300, deadline=None)
def test_translate_rewrites_code_only(tokens):
    """Every comment, string literal and dollar body comes out of the
    shim verbatim and in order (identifiers become backticks, and may go
    with the constraint that lists them)."""
    out = translate_statement(_join(tokens))
    if out is None:  # a CREATE INDEX no-op
        return
    pos = 0
    for kind, text in tokens:
        if kind in ("comment", "string", "dollar"):
            pos = out.index(text, pos) + len(text)


@given(_name, _name)
@settings(max_examples=200, deadline=None)
def test_sort_ties_break_alphabetically_on_suffix(prefix_digits, _unused):
    """Reference tie history (Changes:41-43): equal numeric prefixes must
    order by the alphabetic remainder, not file-system order."""
    digits = "".join(c for c in prefix_digits if c.isdigit()) or "7"
    names = [f"{digits}-b", f"{digits}-a", f"{digits}-c"]
    ordered = sorted(names, key=numeric_or_alpha_key)
    assert ordered == [f"{digits}-a", f"{digits}-b", f"{digits}-c"]


@given(st.lists(st.integers(min_value=0, max_value=10**12), min_size=2, max_size=20))
@settings(max_examples=200, deadline=None)
def test_all_digit_names_sort_numerically(nums):
    """Documented divergence: all-digit names ('2' vs '10') sort by value
    here, where the reference's ^(\\d+)(.+) degrades them to unordered
    (0, '') ties — our order is a deterministic refinement."""
    names = [str(n) for n in nums]
    ordered = sorted(names, key=numeric_or_alpha_key)
    assert [int(n) for n in ordered] == sorted(nums)


_fname = st.text(
    alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Nd"), whitelist_characters="-_."),
    min_size=1,
    max_size=15,
).filter(lambda s: "/" not in s and s not in (".", ".."))


@given(_fname, st.sampled_from(["", ".sql", ".sql.bak", ".sqlx", ".py", ".SQL"]))
@settings(max_examples=200, deadline=None)
def test_dispatch_anchored_vs_legacy_quirk(tmp_path_factory, stem, suffix):
    """Dispatch (Core.pm:176-203): default mode runs ONLY *.sql as SQL;
    the legacy flag reproduces the reference's unanchored /\\.sql/ match,
    under which any name merely CONTAINING '.sql' (foo.sql.bak) runs as
    SQL. Both modes must agree with their respective string rules for
    arbitrary generated names."""
    import os

    from database_migrator_spark.migrator.model import FileKind, classify_file

    d = tmp_path_factory.mktemp("disp")
    base = stem + suffix
    p = d / base
    p.write_text("-- x")
    os.chmod(p, 0o644)  # not executable → SQL or CODE only
    anchored = classify_file(str(p), legacy_sql_match=False)
    legacy = classify_file(str(p), legacy_sql_match=True)
    assert (anchored is FileKind.SQL) == base.endswith(".sql")
    assert (legacy is FileKind.SQL) == (".sql" in base)
    # the quirk only ever widens the SQL set, never shrinks it
    if anchored is FileKind.SQL:
        assert legacy is FileKind.SQL


@given(
    st.lists(
        st.decimals(
            min_value=Decimal("-1e7"), max_value=Decimal("1e7"), places=2, allow_nan=False
        ),
        min_size=1,
        max_size=50,
    )
)
@settings(max_examples=200, deadline=None)
def test_cents_arithmetic_is_exact_for_two_decimal_money(values):
    """round(x*100) summed as ints then /100 equals the exact Decimal sum
    for any 2-decimal money values — order-independent by construction."""
    cents = [int((v * 100).to_integral_value(rounding=ROUND_HALF_UP)) for v in values]
    total = sum(cents) / 100.0
    exact = float(sum(values))
    assert abs(total - exact) < 1e-9
    # permutation invariance (the property double sums lack)
    assert sum(sorted(cents)) == sum(cents)


# ---------------------------------------------------------------------------
# Winnowing + prefix-filter properties (round 7). Pure-Python reference
# implementations mirror the column expressions; Spark agreement is
# covered by the oracle gate and tests/test_dedup.py — these pin the
# ALGORITHMIC guarantees over randomized inputs.
# ---------------------------------------------------------------------------

import hashlib as _hashlib


def _py_winnow(tokens: list[str], k: int = 3, w: int = 4) -> set[int]:
    """Reference winnowing: mirrors operators/dedup.winnow_fingerprints
    (k-token grams, 48-bit md5-slice hashes, min per w-window)."""
    if len(tokens) >= k:
        grams = [" ".join(tokens[i : i + k]) for i in range(len(tokens) - k + 1)]
    else:
        grams = [" ".join(tokens)]
    hs = [int(_hashlib.md5(g.encode()).hexdigest()[:12], 16) for g in grams]
    if len(hs) >= w:
        return {min(hs[i : i + w]) for i in range(len(hs) - w + 1)}
    return {min(hs)}


_word = st.text(alphabet="abcdefgh", min_size=1, max_size=4)


@given(
    st.lists(_word, min_size=6, max_size=6),  # the shared run (= w+k-1)
    st.lists(_word, min_size=0, max_size=8),
    st.lists(_word, min_size=0, max_size=8),
    st.lists(_word, min_size=0, max_size=8),
)
@settings(max_examples=200, deadline=None)
def test_winnowing_containment_guarantee(shared, pre_a, post_a, pre_b):
    """The winnowing theorem (Schleimer 2003): ANY two documents sharing
    a contiguous run of >= w+k-1 tokens share at least one fingerprint,
    wherever the run sits in either document."""
    doc_a = pre_a + shared + post_a
    doc_b = pre_b + shared
    assert _py_winnow(doc_a) & _py_winnow(doc_b)


def _py_prefix_join(docs: dict[int, set[str]], t_num=7, t_den=10):
    """Reference AllPairs: rare-first prefixes, candidate = shared prefix
    element, verify with exact integer cross-multiplication."""
    from collections import Counter

    df = Counter(x for s in docs.values() for x in s)
    pref = {}
    for d, s in docs.items():
        n = len(s)
        plen = n - -(-t_num * n // t_den) + 1  # n - ceil(t*n) + 1
        pref[d] = set(sorted(s, key=lambda x: (df[x], x))[:plen])
    cands = set()
    ids = sorted(docs)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if pref[a] & pref[b]:
                cands.add((a, b))
    out = set()
    for a, b in cands:
        inter = len(docs[a] & docs[b])
        union = len(docs[a] | docs[b])
        if union and t_den * inter >= t_num * union:
            out.add((a, b))
    return out


@given(
    st.lists(
        st.sets(st.text(alphabet="xyz", min_size=1, max_size=3), min_size=1, max_size=12),
        min_size=2,
        max_size=8,
    )
)
@settings(max_examples=200, deadline=None)
def test_prefix_filter_never_misses_a_qualifying_pair(sets):
    """Exactness of the prefix filter itself: for random small set
    corpora, the prefix-filtered join finds EXACTLY the brute-force
    J >= 0.7 pairs — the theorem q162 rests on, independent of Spark."""
    docs = dict(enumerate(sets))
    brute = set()
    ids = sorted(docs)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(docs[a] & docs[b])
            union = len(docs[a] | docs[b])
            if union and 10 * inter >= 7 * union:
                brute.add((a, b))
    assert _py_prefix_join(docs) == brute


def _py_ks(xs: list[int], ys: list[int]) -> tuple[int, int, int]:
    """Reference two-sample KS over integer samples: returns
    (max |cumX*ny - cumY*nx|, nx, ny) — mirrors q174's pure-integer
    formulation, checked here against the direct CDF definition."""
    nx, ny = len(xs), len(ys)
    support = sorted(set(xs) | set(ys))
    best = 0
    for v in support:
        cx = sum(1 for x in xs if x <= v)
        cy = sum(1 for y in ys if y <= v)
        best = max(best, abs(cx * ny - cy * nx))
    return best, nx, ny


@given(
    st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=40),
    st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=40),
)
@settings(max_examples=200, deadline=None)
def test_integer_ks_equals_cdf_definition(xs, ys):
    """q174's histogram/cumsum formulation equals the textbook
    sup|F̂x − F̂y| definition: the max cross-multiplied deviation over
    the merged support, computed from per-value counts + running sums,
    matches the direct per-point CDF comparison exactly."""
    from collections import Counter

    hx, hy = Counter(xs), Counter(ys)
    support = sorted(set(hx) | set(hy))
    cx = cy = 0
    best_hist = 0
    for v in support:  # the q174 cumsum-over-histogram shape
        cx += hx.get(v, 0)
        cy += hy.get(v, 0)
        best_hist = max(best_hist, abs(cx * len(ys) - cy * len(xs)))
    assert best_hist == _py_ks(xs, ys)[0]


@given(
    st.lists(
        st.tuples(st.integers(min_value=0, max_value=1000), st.sampled_from([1, -1])),
        min_size=1,
        max_size=120,
    ),
    st.integers(min_value=1, max_value=17),
)
@settings(max_examples=200, deadline=None)
def test_two_level_prefix_sum_equals_single_cumsum(marks, bucket_width):
    """q166's two-level prefix sum (per-bucket local cumsum + exclusive
    bucket-base offsets) is bit-identical to one global running sum for
    ANY bucketing that respects the global order — the distributed
    decomposition the sweep-line rests on."""
    marks = sorted(marks)  # global order: (position, delta)
    single = []
    acc = 0
    for _, d in marks:
        acc += d
        single.append(acc)
    # two-level: bucket by position // width (order-respecting)
    from collections import defaultdict

    buckets = defaultdict(list)
    for pos, d in marks:
        buckets[pos // bucket_width].append(d)
    base = 0
    two_level = {}
    for b in sorted(buckets):
        local = 0
        for i, d in enumerate(buckets[b]):
            local += d
            two_level.setdefault(b, []).append(base + local)
        base += local
    flat = [v for b in sorted(two_level) for v in two_level[b]]
    assert flat == single


def test_silence_run_stats_property():
    """q217's run-length kernel vs a trivially-correct reference on
    random PCM streams (hypothesis): silent counts, segment counts and
    longest run must agree for every stream, threshold and min_run."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from database_migrator_spark.operators.multimodal import silence_run_stats

    def reference(samples, threshold, min_run):
        runs, cur = [], 0
        for s in samples:
            if abs(s) < threshold:
                cur += 1
            else:
                if cur:
                    runs.append(cur)
                cur = 0
        if cur:
            runs.append(cur)
        return (
            sum(runs),
            sum(1 for r in runs if r >= min_run),
            max(runs, default=0),
        )

    @given(
        st.lists(st.integers(min_value=-4096, max_value=4096), max_size=200),
        st.integers(min_value=1, max_value=1024),
        st.integers(min_value=1, max_value=16),
    )
    @settings(max_examples=200, deadline=None)
    def check(samples, threshold, min_run):
        assert silence_run_stats(samples, threshold, min_run) == reference(
            samples, threshold, min_run
        )

    check()


def test_trimmed_mean_overlap_arithmetic_property():
    """q222's kept-copy formula — each histogram cell contributes
    max(0, min(cum, n-t) - max(cum-c, t)) — must reproduce the sorted
    trim exactly for any multiset and trim count (hypothesis)."""
    from collections import Counter

    from hypothesis import given, settings
    from hypothesis import strategies as st

    @given(st.lists(st.integers(min_value=-1000, max_value=1000), min_size=1, max_size=300))
    @settings(max_examples=200, deadline=None)
    def check(values):
        n = len(values)
        t = n // 10
        srt = sorted(values)
        want = sum(srt[t : n - t])
        hist = sorted(Counter(values).items())
        cum = 0
        got = 0
        for v, c in hist:
            cum += c
            kept = max(0, min(cum, n - t) - max(cum - c, t))
            got += v * kept
        assert got == want

    check()


def test_kmv_estimator_reference_property():
    """q221's estimator: on random id sets, the bottom-16 md5 sketch's
    (k-1)*2^48 DIV h_(k) estimate must match a pure-Python KMV built
    from the same hashes, and the n<k fallback must be exact."""
    import hashlib

    from hypothesis import given, settings
    from hypothesis import strategies as st

    @given(st.sets(st.integers(min_value=0, max_value=10**9), max_size=400))
    @settings(max_examples=100, deadline=None)
    def check(ids):
        hs = sorted(hashlib.md5(str(u).encode()).hexdigest()[:12] for u in ids)
        k = 16
        if len(hs) < k:
            est = len(hs)
        else:
            est = (15 * 2**48) // int(hs[k - 1], 16)
            # unbiased-ish: within a factor ~4 of truth at n>=k (loose
            # sanity bound; k=16 has ~25% stderr)
            assert est > 0
            if len(hs) >= 64:
                assert len(hs) / 6 < est < len(hs) * 6
        assert est == (len(hs) if len(hs) < k else (15 * 2**48) // int(hs[k - 1], 16))

    check()


def test_hll_rho_reference_property():
    """q223's hex-arithmetic rho vs int.bit_length on random 48-bit
    values: rho = 49 - bit_length(v) (49 when v = 0), computed from the
    hex string exactly as both engines do."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @given(st.integers(min_value=0, max_value=2**48 - 1))
    @settings(max_examples=500, deadline=None)
    def check(v):
        h12 = f"{v:012x}"
        rest = h12.lstrip("0")
        if rest == "":
            rho = 49
        else:
            d = rest[0]
            extra = {"1": 3, "2": 2, "3": 2}.get(d, 1 if d in "4567" else 0)
            rho = 4 * (12 - len(rest)) + extra + 1
        assert rho == (49 if v == 0 else 49 - v.bit_length())

    check()
