"""Dual-dialect SQL fragments: formulas that evaluate bit-identically in
Spark SQL and DuckDB SQL.

The driver's correctness gate runs each Spark query next to a DuckDB
oracle on the same parquet and hash-compares values, so every derived
value that appears in a checked query must be computable in both
engines from the raw tables. This module is the single source of truth
for those formulas (hashing, normalization/tokenization, the rule
tagger's CASE cascade, and the deterministic mention synthesis over the
``documents`` table). The Spark pipeline itself is written with the
DataFrame API in operators/ — these emitters exist so the DuckDB
oracles cannot drift from the Spark semantics.

Dialect notes handled here:
  * duckdb regexp_replace needs the 'g' flag; Spark replaces all matches
  * Spark: size/element_at/slice/array_join/transform/filter
    DuckDB: len/list_element/list_slice/array_to_string/list_transform/
    list_filter (list_slice takes an inclusive stop, not a length)
  * rlike (Spark) vs regexp_matches (DuckDB)
  * md5(), ascii(), substr(), % behave identically on our inputs
"""

from __future__ import annotations

from deepref_spark import nlp

SPARK = "spark"
DUCK = "duckdb"

# Punctuation/bracket tokens the portable normalizer keeps as standalone
# tokens (everything else non-alphanumeric is stripped).
KEPT_PUNCT = [".", ",", "(", ")"]


# ---------------------------------------------------------------------------
# primitive emitters
# ---------------------------------------------------------------------------

def rx_match(expr: str, pattern: str, d: str) -> str:
    return f"({expr} rlike '{pattern}')" if d == SPARK else f"regexp_matches({expr}, '{pattern}')"


def rx_replace_all(expr: str, pattern: str, repl: str, d: str) -> str:
    if d == SPARK:
        return f"regexp_replace({expr}, '{pattern}', '{repl}')"
    return f"regexp_replace({expr}, '{pattern}', '{repl}', 'g')"


def arr_len(arr: str, d: str) -> str:
    return f"size({arr})" if d == SPARK else f"len({arr})"


def el(arr: str, idx1: str, d: str) -> str:
    """1-based element access (both engines are 1-based)."""
    return f"element_at({arr}, {idx1})" if d == SPARK else f"list_element({arr}, {idx1})"


def arr_slice(arr: str, start1: str, length: str, d: str) -> str:
    """1-based start + length slice."""
    if d == SPARK:
        return f"slice({arr}, {start1}, {length})"
    return f"list_slice({arr}, {start1}, ({start1}) + ({length}) - 1)"


def arr_join(arr: str, d: str, sep: str = " ") -> str:
    return f"array_join({arr}, '{sep}')" if d == SPARK else f"array_to_string({arr}, '{sep}')"


def transform(arr: str, lam: str, d: str) -> str:
    return f"transform({arr}, {lam})" if d == SPARK else f"list_transform({arr}, {lam})"


def filt(arr: str, lam: str, d: str) -> str:
    return f"filter({arr}, {lam})" if d == SPARK else f"list_filter({arr}, {lam})"


def md5_mod(expr: str, m: int) -> str:
    """Deterministic cross-engine hash of a string expression into
    [0, m). Combines the ascii codes of the first 4 hex chars of md5 —
    identical text in both dialects."""
    h = f"md5({expr})"
    return (
        f"((ascii(substr({h},1,1))*131071 + ascii(substr({h},2,1))*8191 "
        f"+ ascii(substr({h},3,1))*127 + ascii(substr({h},4,1))) % {m})"
    )


def md5_int(expr: str) -> str:
    """Deterministic cross-engine hash of a string expression into a
    small non-negative integer (< ~1.43e7) WITHOUT a modulus — for
    callers that reduce modulo a per-row COLUMN (e.g. the random-walk
    step chooser's `md5_int(key) % out_deg`), where md5_mod's literal
    modulus can't apply. Same ascii-combination as md5_mod."""
    h = f"md5({expr})"
    return (
        f"(ascii(substr({h},1,1))*131071 + ascii(substr({h},2,1))*8191 "
        f"+ ascii(substr({h},3,1))*127 + ascii(substr({h},4,1)))"
    )


def md5_unit(expr: str) -> str:
    """Deterministic cross-engine pseudo-uniform double in [0,1).

    The CAST AS DOUBLE is load-bearing: Spark types `int / 100000.0` as
    DECIMAL(19,6) while DuckDB types it DOUBLE, so without the cast any
    query that OUTPUTS the score hash-mismatches its oracle.
    """
    return f"(CAST({md5_mod(expr, 100000)} AS DOUBLE) / 100000.0)"


def md5_slice_mod(hash_col: str, offset: int, m: int) -> str:
    """Independent hash from a 4-hex-char slice of an ALREADY-computed
    md5 column — lets one md5 per row feed many hash functions (16-bit
    simhash, minhash bands) instead of re-hashing per function."""
    return (
        f"((ascii(substr({hash_col},{offset + 1},1))*131071 "
        f"+ ascii(substr({hash_col},{offset + 2},1))*8191 "
        f"+ ascii(substr({hash_col},{offset + 3},1))*127 "
        f"+ ascii(substr({hash_col},{offset + 4},1))) % {m})"
    )


def md5_bit(hash_col: str, j: int) -> str:
    """Bit j (0..31) of an already-computed md5 hex column."""
    return f"(ascii(substr({hash_col},{j + 1},1)) % 2)"


def hex32(hash_col: str, offset: int, d: str) -> str:
    """Full-width 32-bit unsigned value from an 8-hex-char slice of an
    ALREADY-computed md5 column — one md5 feeds FOUR independent 32-bit
    hash values (offsets 0/8/16/24). Spark's conv() and DuckDB's
    '0x'-prefixed cast parse the identical hex text, so the value is
    bit-identical across engines. Used by the b x r MinHash banding
    where the 16-bit md5_slice_mod space is too small (the min of n
    16-bit values saturates near 0 for long documents)."""
    s = f"substr({hash_col}, {offset + 1}, 8)"
    if d == SPARK:
        return f"CAST(conv({s}, 16, 10) AS BIGINT)"
    return f"CAST(('0x' || {s}) AS BIGINT)"


# ---------------------------------------------------------------------------
# normalization / tokenization
# ---------------------------------------------------------------------------

def norm_text(col: str, d: str) -> str:
    """Lowercase; isolate kept punctuation as standalone tokens; strip
    every other non-alphanumeric char."""
    e = f"lower({col})"
    for ch in KEPT_PUNCT:
        lit = ch.replace("'", "''")
        e = f"replace({e}, '{lit}', ' {lit} ')"
    e = rx_replace_all(e, "[^a-z0-9(),. ]", " ", d)
    return f"trim({e})"


def norm_tokens(col: str, d: str) -> str:
    inner = norm_text(col, d)
    if d == SPARK:
        return f"split({inner}, ' +')"
    return f"regexp_split_to_array({inner}, ' +')"


def norm_tokens_py(text: str) -> list[str]:
    """Python twin of norm_tokens — same lowercase / punct-isolate /
    strip / split formula, for driver-side preprocessing of bounded
    inputs (benchmark texts, fixtures)."""
    import re

    s = text.lower()
    for ch in KEPT_PUNCT:
        s = s.replace(ch, f" {ch} ")
    s = re.sub(r"[^a-z0-9(),. ]", " ", s).strip()
    return [w for w in s.split(" ") if w]


# ---------------------------------------------------------------------------
# rule tagger as a CASE cascade (must mirror nlp.TAG_RULES exactly on the
# token alphabet produced by norm_tokens: [a-z0-9(),.]+ )
# ---------------------------------------------------------------------------

def _in_list(expr: str, items) -> str:
    quoted = ", ".join("'" + i.replace("'", "''") + "'" for i in items)
    return f"{expr} IN ({quoted})"


def tag_case(tok: str, d: str) -> str:
    branches = []
    for tag, kind, payload in nlp.TAG_RULES:
        if tag == "PUNCT":
            cond = _in_list(tok, KEPT_PUNCT)
        elif tag == "NUM":
            cond = rx_match(tok, "^[0-9]+$", d)
        elif kind == "in":
            cond = _in_list(tok, payload)
        else:  # suffix
            cond = "(" + " OR ".join(f"{tok} LIKE '%{s}'" for s in payload) + ")"
        branches.append(f"WHEN {cond} THEN '{tag}'")
    return "CASE " + " ".join(branches) + f" ELSE '{nlp.FALLBACK_TAG}' END"


def dep_case(tag_expr: str) -> str:
    branches = " ".join(
        f"WHEN '{t}' THEN '{dep}'" for t, dep in nlp.DEP_BY_TAG.items()
    )
    return f"CASE {tag_expr} {branches} ELSE 'dep' END"


def stopword_cond(tok: str) -> str:
    """Membership in the reference's stopword set (NLTK english minus
    'o', stop_word_preprocessor.py:26-27)."""
    from deepref_spark.refsem import STOPWORDS_MINUS_O

    return _in_list(tok, sorted(STOPWORDS_MINUS_O))


# ---------------------------------------------------------------------------
# deterministic mention synthesis over the driver's `documents` table
# ---------------------------------------------------------------------------

RELATION_NAMES = [
    "Other",            # negative class (data_loader.py:68 list)
    "cause-effect",
    "component-whole",
    "entity-origin",
    "member-collection",
    "message-topic",
]
MIN_TOKENS = 12


def relation_case(expr: str) -> str:
    branches = " ".join(f"WHEN {i} THEN '{r}'" for i, r in enumerate(RELATION_NAMES))
    return f"CASE ({expr}) % {len(RELATION_NAMES)} {branches} END"


def mentions_cte(d: str, source: str = "documents") -> str:
    """Deterministic gold-pair mention table derived from the documents
    corpus — the portable stand-in for a converted corpus, used by every
    oracle-checked query. 0-based [start, end) spans; two span layouts
    (head-first and tail-first) selected by doc_id % 5; relation label
    by doc_id % 6. Only docs with >= MIN_TOKENS tokens qualify."""
    toks = norm_tokens("text", d)
    n = arr_len("tokens", d)
    return f"""
WITH toks AS (
  SELECT doc_id, {toks} AS tokens FROM {source}
),
sized AS (
  SELECT doc_id, tokens, {n} AS n FROM toks WHERE {n} >= {MIN_TOKENS}
),
spans AS (
  SELECT doc_id, tokens, n,
         CAST(1 + doc_id % 3 AS INT) AS a0,
         CAST(1 + doc_id % 3 + 1 + doc_id % 2 AS INT) AS a1,
         CAST(1 + doc_id % 3 + 1 + doc_id % 2 + 2 + doc_id % 2 AS INT) AS b0,
         CAST(1 + doc_id % 3 + 1 + doc_id % 2 + 2 + doc_id % 2 + 1 AS INT) AS b1,
         (doc_id % 5 = 0) AS rev,
         {relation_case("doc_id")} AS relation
  FROM sized
),
mentions AS (
  SELECT doc_id, tokens, n, relation, rev,
         CASE WHEN rev THEN b0 ELSE a0 END AS h0,
         CASE WHEN rev THEN b1 ELSE a1 END AS h1,
         CASE WHEN rev THEN a0 ELSE b0 END AS t0,
         CASE WHEN rev THEN a1 ELSE b1 END AS t1,
         {arr_join(arr_slice('tokens', 'CASE WHEN rev THEN b0 ELSE a0 END + 1', 'CASE WHEN rev THEN b1 - b0 ELSE a1 - a0 END', d), d)} AS h_name,
         {arr_join(arr_slice('tokens', 'CASE WHEN rev THEN a0 ELSE b0 END + 1', 'CASE WHEN rev THEN a1 - a0 ELSE b1 - b0 END', d), d)} AS t_name
  FROM spans
)
"""


def tagged_tokens_expr(d: str) -> str:
    """Rebuild the tagged marker stream from tokens + spans (the T1
    output shape): tokens with ENTITYSTART/END around [h0,h1) and
    ENTITYOTHERSTART/END around [t0,t1)."""
    first_start = "CASE WHEN h0 < t0 THEN h0 ELSE t0 END"
    first_end = "CASE WHEN h0 < t0 THEN h1 ELSE t1 END"
    second_start = "CASE WHEN h0 < t0 THEN t0 ELSE h0 END"
    second_end = "CASE WHEN h0 < t0 THEN t1 ELSE h1 END"
    fs_m = "CASE WHEN h0 < t0 THEN 'ENTITYSTART' ELSE 'ENTITYOTHERSTART' END"
    fe_m = "CASE WHEN h0 < t0 THEN 'ENTITYEND' ELSE 'ENTITYOTHEREND' END"
    ss_m = "CASE WHEN h0 < t0 THEN 'ENTITYOTHERSTART' ELSE 'ENTITYSTART' END"
    se_m = "CASE WHEN h0 < t0 THEN 'ENTITYOTHEREND' ELSE 'ENTITYEND' END"
    if d == SPARK:
        mk = lambda m: f"array({m})"  # noqa: E731
        cat = "concat"
    else:
        mk = lambda m: f"[{m}]"  # noqa: E731
        cat = "list_concat"
    parts = [
        arr_slice("tokens", "1", first_start, d),
        mk(fs_m),
        arr_slice("tokens", f"{first_start} + 1", f"{first_end} - ({first_start})", d),
        mk(fe_m),
        arr_slice("tokens", f"{first_end} + 1", f"{second_start} - ({first_end})", d),
        mk(ss_m),
        arr_slice("tokens", f"{second_start} + 1", f"{second_end} - ({second_start})", d),
        mk(se_m),
        arr_slice("tokens", f"{second_end} + 1", f"n - ({second_end})", d),
    ]
    if d == DUCK:
        # duckdb's list_concat is binary — fold.
        out = parts[0]
        for p in parts[1:]:
            out = f"list_concat({out}, {p})"
        return out
    return f"{cat}(" + ", ".join(parts) + ")"


# ---------------------------------------------------------------------------
# NER-driven mention detection / candidate-pair generation (SURVEY §2.8
# row 1). The reference always consumes gold entity pairs from its
# converters (dataset_converter.py:95-113); over raw documents there are
# none, so candidates come from deterministic NER spans: maximal runs of
# entity-flagged tokens (rule tag NOUN, length >= 4), capped at
# MAX_SPANS per sentence, expanded to all ordered span pairs. Everything
# is per-row array combinatorics — zero shuffle at any scale.
# ---------------------------------------------------------------------------

MAX_SPANS = 6
ENT_MIN_LEN = 4


def ent_flags(tokens: str, d: str) -> str:
    """1/0 per token: deterministic NER flag (NOUN-tagged, >= 4 chars)."""
    lam = (
        f"x -> CASE WHEN {tag_case('x', d)} = 'NOUN' "
        f"AND length(x) >= {ENT_MIN_LEN} THEN 1 ELSE 0 END"
    )
    return transform(tokens, lam, d)


def _seq0(n: str, d: str) -> str:
    """[0 .. n-1]; callers guarantee n >= 1."""
    return f"sequence(0, {n} - 1)" if d == SPARK else f"range({n})"


def run_starts(is_ent: str, n: str, d: str) -> str:
    """0-based start index of each maximal run of 1s in ``is_ent``."""
    lam = f"i -> {el(is_ent, 'i + 1', d)} = 1 AND (i = 0 OR {el(is_ent, 'i', d)} = 0)"
    return filt(_seq0(n, d), lam, d)


def run_ends_excl(is_ent: str, n: str, d: str) -> str:
    """0-based EXCLUSIVE end index of each maximal run (aligned with
    run_starts by construction — runs don't overlap)."""
    lam = (
        f"j -> {el(is_ent, 'j + 1', d)} = 1 "
        f"AND (j = {n} - 1 OR {el(is_ent, 'j + 2', d)} = 0)"
    )
    return transform(filt(_seq0(n, d), lam, d), "j -> j + 1", d)


def span_index_keys(starts: str, d: str) -> str:
    """[1 .. min(len(starts), MAX_SPANS)] as 1-based span keys."""
    rng = f"sequence(1, {MAX_SPANS})" if d == SPARK else f"range(1, {MAX_SPANS + 1})"
    return filt(rng, f"c -> c <= {arr_len(starts, d)}", d)


def pair_codes(ks: str, d: str) -> str:
    """All ordered (i, j) span-key pairs, i != j, encoded i*8+j so the
    exploded column is a plain int in both engines."""
    inner = transform(filt(ks, "j -> j != i", d), f"j -> i * 8 + j", d)
    return f"flatten({transform(ks, f'i -> {inner}', d)})"


def pair_decode(code: str, part: str, d: str) -> str:
    """part 'i' or 'j' back out of an encoded pair."""
    if part == "i":
        return f"CAST(floor({code} / 8) AS INT)"
    return f"CAST({code} % 8 AS INT)"


def popcount(expr: str, d: str) -> str:
    """Number of set bits (both engines ship bit_count over BIGINT)."""
    return f"bit_count({expr})"


def idiv(a: str, b: str, d: str) -> str:
    """BIGINT integer division, dialect-aware: Spark spells it ``div``,
    DuckDB ``//`` (plain ``/`` is double division in both). Both
    engines TRUNCATE TOWARD ZERO on negative operands (pinned by the
    hypothesis suite) — cross-engine consistent, but NOT Python's
    floor; every grid in this repo divides non-negative quantities,
    where the two coincide."""
    return f"({a} div {b})" if d == SPARK else f"({a} // {b})"


def transe_energy_expr(hh: str, rh: str, th: str,
                       dims: int = 8, m: int = 1000) -> str:
    """L1 TransE energy ``sum_j |h_j + r_j - t_j|`` over deterministic
    hash-grid embeddings: dimension j of a role is a 4-hex-char slice
    of that role's ALREADY-computed md5 column (one md5 per role feeds
    all ``dims`` dimensions — the md5_slice_mod discipline). With the
    32-hex digest, dims <= 8. Dialect-independent text (ascii/substr/
    abs are identical in Spark SQL and DuckDB)."""
    if dims > 8:
        raise ValueError("a 32-hex md5 digest carries at most 8 4-char slices")
    terms = [
        f"abs({md5_slice_mod(hh, 4 * j, m)} + {md5_slice_mod(rh, 4 * j, m)}"
        f" - {md5_slice_mod(th, 4 * j, m)})"
        for j in range(dims)
    ]
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def noisy_or_ppm_expr(ps: list, d: str) -> str:
    """Noisy-or fusion of ppm-scaled probabilities in pure BIGINT:
    ``1e6 * (1 - prod_i (1 - p_i))`` with the running product floored
    back to the ppm grid after every multiply, so the intermediate
    never exceeds 1e12 (BIGINT-safe for any number of extractors) and
    the result is bit-identical across engines and aggregation orders.
    ``ps`` are ppm integer expressions in [0, 1e6). Every complement
    term is CAST to BIGINT before multiplying: with INT32 inputs (e.g.
    plain DuckDB literals) the raw (1e6 - p) * (1e6 - p) product
    overflows 32 bits — found by the hypothesis property suite."""
    acc = f"CAST((1000000 - {ps[0]}) AS BIGINT)"
    for p in ps[1:]:
        acc = idiv(
            f"({acc} * CAST((1000000 - {p}) AS BIGINT))", "1000000", d)
    return f"CAST((1000000 - {acc}) AS BIGINT)"


# Russell Soundex digit map, a..z: vowels/h/w/y -> 0 (run separators),
# {b,f,p,v} -> 1, {c,g,j,k,q,s,x,z} -> 2, {d,t} -> 3, l -> 4,
# {m,n} -> 5, r -> 6.
SOUNDEX_DIGITS = "01230120022455012623010202"


def soundex_letters(col: str, d: str) -> str:
    """Letters-only lowercase form of a surface string — the staging
    column soundex_from_letters keys on."""
    return rx_replace_all(f"lower({col})", "[^a-z]", "", d)


def soundex_from_letters(s0: str, d: str) -> str:
    """Russell Soundex key over an already letters-only lowercase
    column (vowel-separator variant: h/w break same-code runs exactly
    like vowels, the one simplification vs strict Soundex — chosen so
    ONE formula text is bit-identical in both dialects instead of
    trusting two engines' divergent builtin soundex()). Empty input
    keys to '' so the caller can drop unkeyable surfaces explicitly.
    """
    dg = (f"translate({s0}, 'abcdefghijklmnopqrstuvwxyz', "
          f"'{SOUNDEX_DIGITS}')")
    coll = dg
    for digit in "123456":
        coll = rx_replace_all(coll, digit + "{2,}", digit, d)
    tail = rx_replace_all(f"substr({coll}, 2)", "0", "", d)
    return (f"CASE WHEN length({s0}) = 0 THEN '' "
            f"ELSE concat(upper(substr({s0}, 1, 1)), "
            f"substr(concat({tail}, '000'), 1, 3)) END")


# --- URL canonicalization (the CommonCrawl-style dedup key) -----------------
# Four staged fragments so both engines run the IDENTICAL formula text
# over staged columns: defrag -> head/tail split -> canon each half.
# No capture-group replacements anywhere (Java uses $1 where RE2 uses
# \1 — the one regexp_replace syntax the two engines do NOT share).

def url_defrag(col: str, d: str) -> str:
    """Strip the #fragment (never part of the resource identity)."""
    return rx_replace_all(col, "#.*", "", d)


def url_head(col: str) -> str:
    """scheme://authority prefix — identical text in both dialects."""
    return (f"regexp_extract({col}, "
            f"'^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1)")


def url_canon_head(col: str, d: str) -> str:
    """Lowercase scheme+host, strip www. and the scheme default port."""
    h = f"replace(lower({col}), '://www.', '://')"
    h = rx_replace_all(h, ":443$", "", d)
    return rx_replace_all(h, ":80$", "", d)


def url_canon_tail(col: str, d: str) -> str:
    """Strip utm_* tracking params (and their separator), dangling
    ?/&, and the trailing slash."""
    t = rx_replace_all(col, "utm_[a-z]+=[^&#]*&?", "", d)
    t = rx_replace_all(t, "[?&]$", "", d)
    return rx_replace_all(t, "/$", "", d)
