"""Shared helpers for oracle-parity-safe expressions.

Floating-point aggregation order differs between Spark's shuffled partial
aggregation and DuckDB's scan order, so double sums are not bit-reproducible
in general. For oracle-hashed aggregates we cast each value to a decimal
(deterministic per-value rounding) so the sum is exact and order-independent,
then cast the final result back to double. Both engines produce identical
bits. Sequential per-row math on doubles (products, list dot products) IS
deterministic and needs no special handling.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import Column, functions as F

# The ONE ASCII-whitespace rule every Python-side tokenizer must share with
# the Spark plans' split(lower(trim(text)), '\s+') (Java \s is ASCII-only)
# and the DuckDB oracles' string_split_regex: a unicode-aware split would
# draw different token boundaries at NBSP/ideographic spaces and break
# guarantees that depend on identical tokens across tiers (BPE encode
# parity, the heavy-hitter candidate superset).
WS_ASCII_RE = re.compile(r"\s+", re.ASCII)

# scale 6 covers every true decimal scale in the testdata (money = 2,
# money products = 4-6, events.value = 6), so the double→decimal cast is
# EXACT — no tie-rounding to diverge between Spark (Java shortest-repr
# HALF_UP) and DuckDB (scaled-double rounding)
DEC = "decimal(25,6)"
# wider scale for unit-magnitude values (cosines, ratios, vector components)
DEC_HI = "decimal(27,10)"


def round6_det(col: Column) -> Column:
    """Deterministic 6-dp rounding: floor(x*1e6 + 0.5)/1e6 as plain IEEE
    ops, identical in any engine. ROUND(double, 6) is NOT cross-engine
    stable at half boundaries — Spark rounds the double's SHORTEST
    decimal representation (BigDecimal.valueOf) HALF_UP while DuckDB
    rounds the true binary expansion, so a value whose shortest repr
    ends in ...5 flips the last digit between engines. The floor form
    runs the same three IEEE operations on the same double on both
    sides. Use for derived quotients/products; plain ROUND remains fine
    for values with bounded true decimal scale (see DEC note above).

    Magnitude guard (round-17 extreme-double gate find — a REAL bug the
    r16 absolute-tolerance noise mis-filed as comparator band): Spark's
    floor(double) returns LONG and non-ANSI-CLAMPS at ±(2^63−1), so
    every rounded value with |x·1e6| past long range came back as
    ±9223372036854.775807 while DuckDB's double-typed FLOOR was fine
    (5 queries: rolling stats, CUSUM drift, weekly trend, …). At
    |y| ≥ 2^52 a double has no fractional part — IEEE floor(y) IS y —
    so the long path applies only below that, where it's exact."""
    y = col * F.lit(1000000.0) + F.lit(0.5)
    fl = F.when(F.abs(y) < F.lit(2.0**52), F.floor(y).cast("double")).otherwise(y)
    return fl / F.lit(1000000.0)


def sql_r6(x: str) -> str:
    """DuckDB form of round6_det. The argument is parenthesized so
    low-precedence expressions ('a - b') cannot silently bind as
    a - (b * 1000000.0) — callers need not pre-wrap."""
    return f"FLOOR(({x}) * 1000000.0 + 0.5) / 1000000.0"


def finite(col: Column) -> Column:
    """True iff `col` is a finite double (false for NaN/±Inf, NULL for
    NULL) — Spark has no isfinite(); NaN/Inf reach int casts as 0 /
    Long.MAX under non-ANSI, which no bucketing operator wants."""
    return ~F.isnan(col) & (F.abs(col) != F.lit(float("inf")))


def sql_finite(x: str) -> str:
    """Engine-portable SQL form of `finite` — valid in BOTH Spark SQL and
    DuckDB (both have isnan; 'Infinity' casts to +Inf in both), for
    expression strings shared between an F.expr plan and its oracle."""
    return f"(NOT isnan({x}) AND abs({x}) <> CAST('Infinity' AS DOUBLE))"


_CAST_OPEN_RE = re.compile(r"\bCAST\s*\(", re.IGNORECASE)
_DECIMAL_TYPE_RE = re.compile(
    r"^\s*DECIMAL\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)\s*$", re.IGNORECASE
)
_NUM_LIT_RE = re.compile(r"^\s*-?\d+(\.\d+)?\s*$")
# volatile SQL functions whose double evaluation inside a narrowing-cast
# guard would be semantics-visible (r18 verdict #7) — the guard refuses
# them loudly instead of silently emitting the expr twice
_VOLATILE_RE = re.compile(
    r"\b(?:random|uuid|gen_random_uuid|now|current_timestamp|"
    r"current_date|current_time)\s*\(",
    re.IGNORECASE,
)
_AS_DECIMAL_RE = re.compile(r"\bAS\s+DECIMAL\s*\(", re.IGNORECASE)


def _contains_decimal_cast(s: str) -> bool:
    """Skip-region-aware `AS DECIMAL(` detector (ADVICE r17: the DOUBLE
    branch's plain substring test was quote/comment-blind, unlike the
    rest of the scanner — an `AS DECIMAL(` inside a string literal or
    comment would draft a float32-typed expr into the VARCHAR
    round-trip, the exact distortion class that branch's scope note
    warns about)."""
    i, n = 0, len(s)
    while i < n:
        q = _find_skip(s, i)
        m = _AS_DECIMAL_RE.search(s, i)
        if m is None:
            return False
        if q != -1 and q < m.start():
            i = _skip_region(s, q)
            continue
        return True
    return False


def _toplevel_decimal_cast(expr: str) -> tuple[int, int] | None:
    """(p, s) when `expr` is exactly one top-level `CAST(... AS
    DECIMAL(p,s))` spanning the whole string, else None. Skip-region-
    aware balanced parse, same machinery as the guard scanners."""
    s = expr.strip()
    m = _CAST_OPEN_RE.match(s)
    if not m:
        return None
    depth, j, n = 1, m.end(), len(s)
    while j < n and depth:
        if _at_skip_start(s, j):
            j = _skip_region(s, j)
            continue
        c = s[j]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        j += 1
    if depth or s[j:].strip():
        return None
    inner = s[m.end() : j - 1]
    as_pos = _split_last_top_level_as(inner)
    if as_pos < 0:
        return None
    tm = _DECIMAL_TYPE_RE.match(inner[as_pos + 2 :].strip())
    return (int(tm.group(1)), int(tm.group(2))) if tm else None


def _skip_quoted(s: str, j: int) -> int:
    """`j` points at an opening quote — single (string literal) OR double
    (quoted identifier; review finding: a double-quoted identifier
    containing 'lower(', a quote, or a stray paren would desync the
    scanners) — return the index just past the closing quote. A doubled
    quote inside is SQL's escape. An unterminated literal consumes the
    rest of the string (malformed SQL — DuckDB will reject it loudly
    anyway)."""
    q = s[j]
    n = len(s)
    j += 1
    while j < n:
        if s[j] == q:
            if j + 1 < n and s[j + 1] == q:
                j += 2
                continue
            return j + 1
        j += 1
    return n


def _skip_region(s: str, j: int) -> int:
    """`j` points at the start of a skippable region — a quote, a `--`
    line comment, or a `/*` block comment — return the index just past
    its end. Comments join quotes here because an apostrophe INSIDE a
    comment (e.g. "-- Spark's convention") would otherwise open a
    phantom string literal that swallows following SQL, silently hiding
    any lower()/DECIMAL-cast site inside the swallowed span from the
    guards (round-14 ADVICE, medium). Block comments don't nest in SQL.
    An unterminated region consumes the rest of the string."""
    if s[j] in "'\"":
        return _skip_quoted(s, j)
    if s.startswith("--", j):
        e = s.find("\n", j)
        return len(s) if e == -1 else e + 1
    e = s.find("*/", j + 2)
    return len(s) if e == -1 else e + 2


def _find_skip(s: str, i: int) -> int:
    """Index of the nearest skippable-region start (single/double quote,
    `--`, or `/*`) at/after i, else -1."""
    best = -1
    for tok in ("'", '"', "--", "/*"):
        p = s.find(tok, i)
        if p != -1 and (best == -1 or p < best):
            best = p
    return best


def _at_skip_start(s: str, j: int) -> bool:
    """True when position j opens a skippable region (quote or comment)."""
    return s[j] in "'\"" or s.startswith("--", j) or s.startswith("/*", j)


def _has_comment(s: str) -> bool:
    """True when s contains a SQL comment outside quoted regions. The
    guards' rewrites inline an expression into a longer single line; an
    expression ending in a `--` comment would swallow the generated tail
    (`) THEN ...`), so such expressions get a terminating newline."""
    i = 0
    while True:
        p = _find_skip(s, i)
        if p == -1:
            return False
        if s[p] not in "'\"":
            return True
        i = _skip_quoted(s, p)


def _split_last_top_level_as(inner: str) -> int:
    """Position of the last depth-0 `AS` keyword in a CAST body, -1 if none.
    Parens and `AS` inside single-quoted literals are skipped — an oracle
    like CAST(regexp_replace(x, '(', '') AS DECIMAL(25,6)) would otherwise
    miscount depth and silently escape the NaN guard."""
    depth, pos, j, n = 0, -1, 0, len(inner)
    while j < n:
        c = inner[j]
        if _at_skip_start(inner, j):
            j = _skip_region(inner, j)
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif (
            depth == 0
            and inner[j : j + 2].upper() == "AS"
            and (j == 0 or not (inner[j - 1].isalnum() or inner[j - 1] == "_"))
            and (
                j + 2 >= n
                or not (inner[j + 2].isalnum() or inner[j + 2] == "_")
            )
        ):
            pos = j
        j += 1
    return pos


def guard_nonfinite_decimal_casts(sql: str) -> str:
    """Rewrite every `CAST(expr AS DECIMAL(p,s))` in a DuckDB oracle to
    `CAST(CASE WHEN isfinite(expr) THEN expr END AS DECIMAL(p,s))`.

    Spark's non-ANSI CAST(double AS DECIMAL) yields NULL for NaN and
    ±Infinity (skipped by SUM, still counted by COUNT) — but DuckDB's
    CAST *and TRY_CAST* both raise "can't be cast ... INT128" on a
    non-finite double, so an oracle that meets one NaN cell errors out
    instead of mirroring the engine. The guard is the identity for every
    finite or NULL value (isfinite(NULL) is NULL, so the CASE yields
    NULL exactly when the input was NULL), making the rewritten oracle
    bit-identical on clean data and NaN-correct on dirty data. Applied
    centrally at registry build (contract.Registry.add) so the ~50
    decimal-cast sites stay readable at their definition. Balanced-paren
    parse, innermost casts first; numeric literals and already-guarded
    casts are left alone (idempotent)."""
    out: list[str] = []
    i, n = 0, len(sql)
    m = None
    searched_from = -1  # position the cached result (incl. None) covers
    while i < n:
        # quote/comment-aware scan: a CAST( or paren inside a quoted SQL
        # literal or a comment is text, not structure (ADVICE r11: the
        # quote-blind scanner let CAST(regexp_replace(x, '(', '') AS
        # DECIMAL(25,6)) silently escape the guard by miscounting depth;
        # ADVICE r14: an apostrophe inside a -- comment opened a phantom
        # literal that swallowed following SQL)
        q = _find_skip(sql, i)
        # reuse the cached CAST( search while it still covers the scan
        # position — re-searching from scratch after every skipped
        # quoted literal made literal-dense SQL O(n*m) (ADVICE r12). A
        # cached None is also reusable: i only increases, so "no CAST at
        # or after searched_from" stays true forever (review finding:
        # caching only hits made literal-after-last-CAST inputs
        # re-search the whole tail every iteration).
        if searched_from < 0 or (m is not None and m.start() < i):
            m = _CAST_OPEN_RE.search(sql, i)
            searched_from = i
        if q != -1 and (m is None or q < m.start()):
            k = _skip_region(sql, q)
            out.append(sql[i:k])
            i = k
            continue
        if not m:
            out.append(sql[i:])
            break
        out.append(sql[i : m.start()])
        depth, j = 1, m.end()
        while j < n and depth:
            c = sql[j]
            if _at_skip_start(sql, j):
                j = _skip_region(sql, j)
                continue
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            j += 1
        inner = guard_nonfinite_decimal_casts(sql[m.end() : j - 1])
        as_pos = _split_last_top_level_as(inner)
        wrapped = False
        if as_pos >= 0:
            expr, typ = inner[:as_pos].strip(), inner[as_pos + 2 :].strip()
            tm = _DECIMAL_TYPE_RE.match(typ)
            nested_dec = None
            if (
                tm
                and not _NUM_LIT_RE.match(expr)
                and not expr.upper().startswith("CASE WHEN ISFINITE(")
                and not expr.upper().startswith("PRINTF('%.16E'")
                and not expr.upper().startswith("CASE WHEN ABS(")
            ):
                nested_dec = _toplevel_decimal_cast(expr)
            if nested_dec is not None:
                # ADVICE r17 (medium): the expr is itself DECIMAL-typed
                # (a nested CAST like CAST(CAST(x AS DECIMAL(18,4)) AS
                # DECIMAL(19,4)), e.g. the int128-forcing widenings in
                # stats_corr/linreg). The printf('%.16e') wrap below
                # would convert the decimal THROUGH DOUBLE — lossy for
                # values with >17 significant digits (measured: 282/3000
                # random doubles in [1e12,1e14] perturb the oracle).
                # Decimals are always finite, so the isfinite guard is
                # vacuous; for a pure WIDENING (integer capacity and
                # scale both non-decreasing) overflow is impossible too,
                # and the exact native cast IS the identity mirror of
                # Spark's exact decimal widening — emit it unwrapped
                # (the nested cast inside `inner` already got its own
                # guard recursively). A NARROWING keeps Spark's
                # NULL-on-overflow semantics via an exact decimal-
                # compare magnitude guard (integer literal bound, never
                # a double literal — DuckDB would promote the compare to
                # lossy DOUBLE).
                p, s = int(tm.group(1)), int(tm.group(2))
                pi, si = nested_dec
                if not (p - s >= pi - si and s >= si):
                    # the guarded emission evaluates the expr twice,
                    # which is semantics-visible for a volatile
                    # subexpression (r18 verdict #7) — none registered
                    # today, so refuse loudly rather than diverge
                    if _VOLATILE_RE.search(expr):
                        raise ValueError(
                            "narrowing decimal cast guard would evaluate"
                            f" a volatile expression twice: {expr[:120]!r}"
                        )
                    nl = "\n" if _has_comment(expr) else ""
                    e = f"{expr}{nl}"
                    if s < si:
                        # scale reduction: DuckDB's native narrowing
                        # CAST truncates the dropped digits where Spark
                        # rounds HALF_UP (probed: 1.999 (4,3)->(3,2) is
                        # 1.99 vs Spark's 2.00). DuckDB round(dec, s) is
                        # half-away-from-zero — exactly HALF_UP — and
                        # returns DECIMAL(pi, s) (precision kept, no
                        # overflow inside the round), so rounding FIRST
                        # and applying the magnitude bound to the
                        # ROUNDED value also sends carries across the
                        # bound (99999999.999 at (10,2) rounds to
                        # 100000000.00) to NULL exactly as Spark's
                        # overflow does (r18 ADVICE, medium).
                        e = f"round({e}, {s})"
                    bound_lit = "1" + "0" * (p - s)
                    out.append(
                        f"CAST(CASE WHEN abs({e}) < {bound_lit} "
                        f"THEN {e} END AS {typ})"
                    )
                    wrapped = True
                # widening: fall through unwrapped — the re-emit below
                # produces the plain exact CAST with nested guards
            elif (
                tm
                and not _NUM_LIT_RE.match(expr)
                and not expr.upper().startswith("CASE WHEN ISFINITE(")
                and not expr.upper().startswith("PRINTF('%.16E'")
                and not expr.upper().startswith("CASE WHEN ABS(")
            ):
                # an expr containing a -- comment needs its line
                # terminated before the inlined tail, else the comment
                # swallows `) THEN ...`
                nl = "\n" if _has_comment(expr) else ""
                # Round-16 extreme-value probe, two more divergences on
                # FINITE doubles beyond the non-finite class:
                # 1. magnitude: a double past the decimal's integer
                #    capacity (1e19, 1e300) is NULL under Spark's
                #    non-ANSI cast but a hard ConversionException in
                #    DuckDB — abs(x) < 10^(p-s) mirrors Spark exactly
                #    (at p >= 18 the boundary-magnitude ULP dwarfs the
                #    rounding step, so no double rounds ACROSS it).
                # 2. conversion identity: Spark converts double→decimal
                #    by rounding the EXACT binary value to 17
                #    SIGNIFICANT DIGITS, then HALF_UP at the target
                #    scale (characterized empirically round-17:
                #    9.09999999999999e18, exact ...989760, casts to
                #    ...989800 — which is neither the shortest repr
                #    ...990000 nor the exact value). Round 16 modeled
                #    this as "shortest repr" via a VARCHAR round-trip —
                #    right for values whose shortest and 17-digit
                #    reprs coincide (9.9e18, every ≤15-digit money
                #    value) but WRONG in the last unit for doubles
                #    whose shortest repr has ≤16 digits (the r17 5%
                #    escalation probe caught 27 such rows drifting q9's
                #    sums). printf('%.16e', x) renders exactly the
                #    17-significant-digit form, and the exponent string
                #    also parses correctly where bare VARCHAR casts hit
                #    DuckDB's leading-digit wart ('5e-8' → 0.000001);
                #    sub-half-ULP magnitudes are still zeroed first
                #    (5e-{s+1} = 0.5×10^-s, the exact HALF_UP
                #    boundary both engines agree on).
                # Identity on clean data: normal magnitudes carry ≤15
                # significant digits, where the 17-digit rendering is
                # exact.
                # ≥2^53 branch (round-17, the q9 5%-probe class): a
                # double there is an EXACT INTEGER, and Java 17's
                # FloatingDecimal digits (what Spark's native cast
                # renders) are reproducible in no other engine — so the
                # portable contract is the exact binary value, which
                # the engine computes via dcast's hi/lo decomposition
                # and the oracle via printf('%.24e') (25 significant
                # digits = exact for every integer below the 1e24
                # ceiling). DuckDB's NATIVE cast must never stand in:
                # probed, it scales by 10^s in DOUBLE first (2.5e17 →
                # 249999999999999995.805696).
                p, s = int(tm.group(1)), int(tm.group(2))
                e = f"{expr}{nl}"
                out.append(
                    f"CAST(CASE WHEN isfinite({e}) "
                    f"AND abs({e}) >= 9007199254740992.0 "
                    f"AND abs({e}) < 1e{p - s} "
                    f"THEN printf('%.24e', {e}) "
                    f"ELSE printf('%.16e', CASE WHEN isfinite({e}) "
                    f"AND abs({e}) < 1e{p - s} "
                    f"THEN CASE WHEN abs({e}) < 5e-{s + 1} "
                    f"THEN 0 ELSE {e} END "
                    f"END) END AS {typ})"
                )
                wrapped = True
            elif (
                typ.upper() == "DOUBLE"
                and _contains_decimal_cast(expr)
                and not _NUM_LIT_RE.match(expr)
                and not expr.upper().rstrip().endswith("AS VARCHAR)")
            ):
                # Round-17 extreme-double gate find (stats_linreg
                # intercept, masked as "comparator band" in r16):
                # DuckDB's DECIMAL→DOUBLE cast is NOT correctly rounded
                # past ~19 significant digits — it mis-rounds by 1 ULP
                # on 27% of random 16–30-digit decimals (measured;
                # int128→double then scale-divide, two roundings) where
                # Spark's BigDecimal.doubleValue is correctly rounded,
                # and the ULP then amplifies through downstream double
                # algebra (an intercept off by 1.6 at magnitude 6.7e4).
                # A VARCHAR round-trip fixes it: DECIMAL→VARCHAR emits
                # the exact digits and DuckDB's strtod is correctly
                # rounded (0/3000 mismatches). Identity for every
                # already-double expr (shortest-repr round-trip), exact
                # INT/BIGINT, and NULL/NaN/Inf ('inf' parses back).
                # Scope: exprs containing a decimal cast only — the
                # drift class is decimal sums, and the trip DISTORTS
                # FLOAT32 exprs (a float's shortest repr re-parses to a
                # different double than exact widening: the first redo
                # flipped 4 green vector oracles red before this scope).
                nl = "\n" if _has_comment(expr) else ""
                out.append(f"CAST(CAST({expr}{nl} AS VARCHAR) AS {typ})")
                wrapped = True
        if not wrapped:
            # re-emit with any nested casts rewritten
            out.append(f"{sql[m.start():m.end()]}{inner})")
        i = j
    return "".join(out)


def guard_vt_whitespace(sql: str) -> str:
    r"""Rewrite every `\s+` regex in a DuckDB oracle to the explicit
    ASCII whitespace class `[ \t\n\x0B\f\r]+`.

    The engine's split/replace regexes run on the JVM, whose `\s` is
    exactly [ \t\n\x0B\f\r]; DuckDB's RE2 `\s` is [ \t\n\f\r] — NO
    vertical tab U+000B (probed: regexp_split_to_array('a'||chr(11)||'b',
    '\s+') does not split). Python's re.ASCII `\s` (the reference
    tokenizer semantics, _util.WS_ASCII_RE) includes VT like Java, so
    the engine is right and the oracle is the outlier — a VT-bearing
    corpus silently diverges every tokenizer-derived count, fingerprint
    and slug (round-14 documented residual, fixtured in round 15).
    Spelling the class explicitly on the oracle side aligns RE2 with
    the JVM; identity on every corpus without VT. `\s` only ever occurs
    inside single-quoted regex literals in oracle SQL, so textual
    replaces are exact — two ordered forms: `\s]` (class-FINAL member,
    e.g. '[£$€,%\s]') expands to the bare members, and every remaining
    `\s` becomes the bracketed class, which composes with any following
    quantifier (+, *, ?). A `\s` in a NON-final class position would be
    mangled into a nested class; the registry-wide guard test's canary
    (no '[[ ' in any oracle) enforces the write-\s-last convention.
    `\S` (the complement — RE2 wrongly treats VT as a WORD char, so
    'verti<VT>cal' counted as ONE token where Java/Python count two;
    round-15 unicode sweep, text_word_count family) becomes the negated
    class; no oracle uses \S inside a bracket class. Idempotent because
    no replacement contains `\s`/`\S`. Applied centrally at registry
    build (contract.Registry.add) with the other guards."""
    return (
        sql.replace(r"\s]", " \\t\\n\\x0B\\f\\r]")
        .replace(r"\s", r"[ \t\n\x0B\f\r]")
        .replace(r"\S", r"[^ \t\n\x0B\f\r]")
    )


_LOWER_OPEN_RE = re.compile(r"\blower\s*\(", re.IGNORECASE)
# Java/Python FULL lowercase of U+0130 (LATIN CAPITAL LETTER I WITH DOT
# ABOVE) is the two-code-point "i" + U+0307 COMBINING DOT ABOVE
# (SpecialCasing.txt); DuckDB's utf8proc applies the SIMPLE mapping and
# yields a bare "i", silently dropping the dot.
_I_DOT_LOWER = "i̇"
_LOWER_GUARD_SUFFIX = f", 'İ', '{_I_DOT_LOWER}')"
# Final-sigma pre-rewrite (SQL text, single-quoted RE2 pattern): Greek
# capital Σ lowercases context-sensitively — ς when, skipping
# CASE-IGNORABLE code points, it is preceded by a cased letter and not
# followed by one (Unicode Final_Sigma), σ otherwise. JVM and Python
# implement the rule (probed identical on '.'/''/':'/ '·' transparency,
# digits, and sigma runs); utf8proc's simple mapping always yields σ.
# RE2 has no lookarounds, so the context is CAPTURED and re-emitted:
# \1 = cased letter + trailing ignorables, \2 = ignorables + (end | a
# char that is neither cased nor ignorable). Left-to-right
# non-overlapping scan handles runs (ΑΣΣ → ασς, ΣΣ → σς like Python)
# because \2 never contains a cased letter and so never steals another
# match's \1. Cased ≈ Lu|Ll|Lt; ignorable ≈ the MidLetter/MidNumLet
# punctuation . ' : · ’ plus the M/Cf/Lm/Sk categories — the full
# Case_Ignorable set minus a tail of exotic word-join punctuation no
# fixture or realistic corpus-derived SQL concatenation produces.
_SIGMA_CASED = r"\p{Lu}\p{Ll}\p{Lt}"
# the apostrophe is DOUBLED: this text lives inside a single-quoted SQL
# pattern literal; RE2 receives a single ' after SQL unescaping
_SIGMA_IGN = r".'':·’\p{M}\p{Cf}\p{Lm}\p{Sk}"
_SIGMA_PATTERN = (
    f"'([{_SIGMA_CASED}][{_SIGMA_IGN}]*)Σ"
    f"([{_SIGMA_IGN}]*($|[^{_SIGMA_CASED}{_SIGMA_IGN}]))', '\\1ς\\2', 'g'"
)


def guard_unicode_lower(sql: str) -> str:
    """Rewrite every `lower(expr)` in a DuckDB oracle to
    `lower(replace(regexp_replace(expr, <final-sigma>), 'İ', 'i̇'))`.

    The engine's lower() is Spark's UTF8String → JVM full Unicode case
    mapping, which matches the reference's Python str.lower(); DuckDB's
    lower() is utf8proc's SIMPLE mapping. The two disagree on exactly one
    unconditional code point, U+0130 'İ' (full: "i"+combining dot above;
    simple: bare "i") — every downstream token, md5 fingerprint, simhash
    and length() then diverges, which is how the round-14 unicode sweep
    surfaced 13 of its 18 failures. Pre-substituting İ with its full
    lowercase BEFORE DuckDB's lower() reproduces the JVM/Python result
    (lower() maps "i"+U+0307 to itself); ASCII and every other pool code
    point are untouched, so the guard is the identity on clean data.
    Round 15 adds the second divergent mapping, Greek capital Σ's
    context-sensitive Final_Sigma rule (Python/JVM: ΟΔΥΣΣΕΎΣ →
    οδυσσεύς; utf8proc: ...σ) via a captured-context regexp_replace
    BEFORE lower() — see _SIGMA_PATTERN for the rule, the RE2
    no-lookaround encoding, and the combining-mark approximation
    scope.

    Applied centrally at registry build (contract.Registry.add), like
    guard_nonfinite_decimal_casts. Quote-aware balanced-paren parse,
    innermost calls first, idempotent (an already-guarded arg is left
    alone). Runs once per oracle at build time — no caching needed."""
    out: list[str] = []
    i, n = 0, len(sql)
    while i < n:
        q = _find_skip(sql, i)
        m = _LOWER_OPEN_RE.search(sql, i)
        if q != -1 and (m is None or q < m.start()):
            k = _skip_region(sql, q)
            out.append(sql[i:k])
            i = k
            continue
        if not m:
            out.append(sql[i:])
            break
        out.append(sql[i : m.start()])
        depth, j = 1, m.end()
        while j < n and depth:
            c = sql[j]
            if _at_skip_start(sql, j):
                j = _skip_region(sql, j)
                continue
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            j += 1
        inner = guard_unicode_lower(sql[m.end() : j - 1])
        stripped = inner.strip()
        if stripped.startswith("replace(") and stripped.endswith(
            _LOWER_GUARD_SUFFIX
        ):
            # already guarded: re-emit with nested calls rewritten
            out.append(f"{sql[m.start():m.end()]}{inner})")
        else:
            nl = "\n" if _has_comment(inner) else ""
            out.append(
                f"lower(replace(regexp_replace({inner}{nl}, "
                f"{_SIGMA_PATTERN}), 'İ', '{_I_DOT_LOWER}'))"
            )
        i = j
    return "".join(out)


_TWO53 = 9007199254740992.0  # 2^53: above this a double is an exact integer
_TWO30 = 1073741824.0


def dcast(col: Column, dec: str = DEC) -> Column:
    """Portable double→decimal (round-17 5%-extreme-double find, q9):
    Spark's native cast renders through Java 17's Double.toString
    (pre-Ryū FloatingDecimal), which for |x| ≥ 2^53 sometimes emits one
    digit MORE than the shortest repr (JDK-4511638) — so its digits are
    neither shortest nor 17-significant and NO other engine can mirror
    them from SQL (probed: 9.09999999999999e18 casts to …989800 = 17
    digits of the exact value, while 9.89999999999999e18 casts to
    …990000 = its 15-digit shortest repr; derived profit terms at 9e18
    then drift money sums by thousands).

    Above 2^53 a double IS an exact integer, so the canonical,
    engine-independent conversion is the EXACT BINARY VALUE — which is
    precisely what DuckDB's native cast computes. This helper produces
    the same exact integer in Spark without any string rendering: a
    lossless hi/lo split at 2^30 (binary-exponent shifts and the
    subtraction are exact IEEE ops; each half fits a BIGINT exactly)
    recombined in decimal arithmetic. Below 2^53 the native cast stands
    (battle-tested against the oracle's 17-digit printf mirror across
    the full battery). Non-finite and |x| ≥ 1e19 stay NULL exactly as
    the native cast's non-ANSI overflow semantics give."""
    m = re.fullmatch(r"decimal\((\d+),\s*(\d+)\)", dec.strip(), re.IGNORECASE)
    bound = 10.0 ** (int(m.group(1)) - int(m.group(2)))
    # decomposition exactness ceiling: x/2^30, hi·2^30 and the
    # subtraction are exact IEEE ops only while hi < 2^53, i.e.
    # |x| < 2^83 ≈ 9.7e24 — every decimal bound in use (1e14…1e24)
    # sits below it; a wider type would silently fall back to the
    # native cast's Java digits, so fail loudly instead (ValueError,
    # not assert — `python -O` strips asserts and would let the exact-
    # integer branch silently exceed its exactness ceiling)
    if bound > 2.0**83:
        raise ValueError(f"dcast decomposition cannot cover {dec}")
    x = col
    # the guard is scan-bound cost on EVERY money aggregate (q1 runs
    # seven over the full lineitem scan; measured 25% overhead at sf1
    # with the r17 three-conjunct form, .scale/dcast_cost.json). An
    # explicit finite(x) conjunct is redundant — but NOT because NaN
    # fails the >= compare: under Spark SQL's NaN-greatest ordering
    # abs(NaN) >= 2^53 evaluates TRUE (NaN compares greater than every
    # value; it is not false-on-compare like SQL NULL). NaN is excluded
    # SOLELY by the abs(x) < bound conjunct, as is +/-Inf; both fall to
    # the native cast's NULL exactly as before (r18 ADVICE: do not
    # widen or remove the upper bound without re-routing NaN — the
    # previous comment's invariant was wrong). Ordering abs>=2^53 first
    # makes the common path one abs+compare per row.
    big = (F.abs(x) >= F.lit(_TWO53)) & (F.abs(x) < F.lit(bound))
    hi = F.floor(x / F.lit(_TWO30))
    lo = x - hi * F.lit(_TWO30)
    exact = (
        hi.cast("long").cast("decimal(28,0)") * F.lit(1073741824).cast("decimal(10,0)")
        + lo.cast("long").cast("decimal(28,0)")
    )
    return F.when(big, exact.cast(dec)).otherwise(x.cast(dec))


def dsum(col: Column, alias: str, dec: str = DEC) -> Column:
    """Order-independent SUM over a double column."""
    return F.sum(dcast(col, dec)).cast("double").alias(alias)


def davg(col: Column, alias: str, dec: str = DEC) -> Column:
    """Order-independent AVG: exact decimal sum / count, divided as doubles."""
    return (F.sum(dcast(col, dec)).cast("double") / F.count(col)).alias(alias)


def sql_jackson_json(col: str = "props") -> str:
    r"""DuckDB-side JSON input mirroring Spark's permissive Jackson
    parser: Spark's get_json_object/try_parse_json enable
    ALLOW_UNESCAPED_CONTROL_CHARS, so a raw vertical tab inside a JSON
    string VALUE parses fine on the engine while DuckDB's yyjson calls
    the document malformed (probed: json_extract_string raises
    "unexpected control character in string"). Pre-escaping VT to its
    six-char backslash-u000B escape form makes yyjson accept the document and decode the escape
    back to the same VT the engine extracted — identity on every
    VT-free document, including all other injected multibyte text.
    Scope: VT (U+000B) only, the one control char any fixture injects;
    a corpus with other raw C0 bytes inside JSON strings would need the
    same replace per char. A raw VT OUTSIDE a string value is invalid
    for BOTH parsers (Jackson's allowance is string-interior only, and
    the escaped form is likewise invalid there), so NULL/malformed
    agree everywhere. Use ONLY for oracles of get_json_object-backed
    queries: Spark's try_parse_json (Variant) is STRICT about raw
    control chars exactly like yyjson (probed: NULL on raw-VT JSON
    where get_json_object parses it), so try-parse oracles must keep
    the raw document."""
    return f"replace({col}, chr(11), '\\u000B')"


def sql_str_to_bigint(expr: str) -> str:
    """DuckDB SQL mirroring Spark's non-ANSI string→BIGINT cast (probed
    on Spark 4 with ANSI off): plain decimal strings TRUNCATE toward
    zero TEXTUALLY — '3.5'→3, '9007199254740993.5'→9007199254740993
    (exact, no double round-trip), '.5'→0, '3.'→3 — and everything
    else, INCLUDING scientific notation ('1e2') and non-ASCII digits,
    is NULL. DuckDB's TRY_CAST instead rounds fractions ('3.5'→4) and
    accepts '1e2', so neither it nor a trunc(DOUBLE) bridge matches
    (round-15 review: the first fix's via-DOUBLE ELSE branch parsed
    '1e2'→100 and rounded huge fractionals at 2^53). Truncation =
    sign + integer-part digits, extracted textually; an empty integer
    part ('.5', '+.5') is 0. Edge whitespace: Spark's cast trims the
    ASCII control/space set — probed per code point on Spark 4, the
    trimmed class is exactly [\\x00-\\x20\\x7F] at both ends ('\\t42',
    '\\x0B42', '\\x7F42' all cast to 42; U+00A0/U+2009 do NOT trim) —
    where DuckDB trim() strips only ' ' (round-15 ADVICE: '\\t42' was
    42 on the engine but NULL in the oracle). `expr` is inlined several
    times — keep the argument a plain column reference (the JSON
    oracles bind their escaped/extracted value in a CTE first)."""
    t = (
        f"regexp_replace({expr}, "
        "'^[\\x00-\\x20\\x7F]+|[\\x00-\\x20\\x7F]+$', '', 'g')"
    )
    ip = f"regexp_extract({t}, '^[+-]?[0-9]*')"
    return (
        f"CASE WHEN regexp_matches({t}, '^[+-]?[0-9]+$') "
        f"THEN TRY_CAST({t} AS BIGINT) "
        f"WHEN regexp_matches({t}, '^[+-]?([0-9]+\\.[0-9]*|\\.[0-9]+)$') "
        f"THEN CASE WHEN {ip} IN ('', '+', '-') THEN 0 "
        f"ELSE TRY_CAST({ip} AS BIGINT) END "
        f"ELSE NULL END"
    )


def sql_dsum(expr: str, dec: str = "DECIMAL(25,6)") -> str:
    return f"CAST(SUM(CAST({expr} AS {dec})) AS DOUBLE)"


def sql_davg(expr: str, dec: str = "DECIMAL(25,6)") -> str:
    return f"(CAST(SUM(CAST({expr} AS {dec})) AS DOUBLE) / COUNT({expr}))"


# (appId, plan semantic hash, scan files, target) -> split count.
# The df.rdd probe that measures the count builds the full physical plan
# and RDD DAG per call (measured ~50 ms warm / 300 ms cold of driver
# time; guide §7.3). Memoize it — keyed on WHAT THE PLAN COMPUTES, not
# just the file set (r20, ADVICE r19: two DataFrames over the same files
# can have different partition counts — a repartitioned/joined/unioned
# df must not inherit a bare scan's memoized count). The public
# DataFrame.semanticHash() hashes the canonicalized plan, so expression
# ids are already normalized away and re-building the same logical scan
# hits. Entries from prior Spark applications are evicted on insert.
_SPLIT_CACHE: dict = {}


def corpus_checkpoint(df):
    """Lazy localCheckpoint for an INPUT-scale shared intermediate (the
    ivfpq residuals, token/bigram/shingle streams) — cuts the re-derive
    of a multi-consumer corpus pass (guide §5).

    Failure-mode contract (r19 ADVICE): localCheckpoint blocks are
    EXECUTOR-LOCAL — a lost executor loses them with no lineage past the
    truncation, and the persisted footprint is corpus-sized, unlike the
    engine's other checkpoints (per-doc stats, K×dim tables). That trade
    is right for this engine's single-node bench/oracle contract; a
    large fault-sensitive deployment can set SPARK_GRAFT_NO_CORPUS_CKPT=1
    to fall back to lineage recompute (results identical, the shared
    subtree just re-executes per consumer)."""
    if os.environ.get("SPARK_GRAFT_NO_CORPUS_CKPT"):
        return df
    return df.localCheckpoint(eager=False)


def rebalance_narrow_scan(df, spark):
    """Round-robin rebalance a scan that produced fewer splits than cores.

    A small local file arrives as one split, so a CPU-dense map stage
    (shingling, hashing) would run on a single core. When the scan is
    already at least `defaultParallelism` splits — always true at scale —
    the input is returned unchanged, so no shuffle is ever added to a
    wide scan. Round-robin (no key) spreads rows evenly regardless of
    key skew; downstream keyed aggregations add their own exchange, but
    those ship post-aggregation rows (e.g. 8 longs per doc), not text."""
    target = spark.sparkContext.defaultParallelism
    key = (
        spark.sparkContext.applicationId,
        df.semanticHash(),
        tuple(df.inputFiles()),
        target,
    )
    n = _SPLIT_CACHE.get(key)
    if n is None:
        n = df.rdd.getNumPartitions()
        app_id = key[0]
        for k in [k for k in _SPLIT_CACHE if k[0] != app_id]:
            del _SPLIT_CACHE[k]
        _SPLIT_CACHE[key] = n
    if n >= target:
        return df
    return df.repartition(target)
