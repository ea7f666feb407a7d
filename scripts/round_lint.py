"""Protocol lint for rounded-double comparisons (round-8, after the
q_bollinger_bands driver hash FAIL).

The repo's parity protocol (SURVEY §4, plans/queries.py header) bans
feeding a ``round(<double expr>, k)`` result into a COMPARISON or an
integer cast: Spark rounds the exact binary value of the double
(BigDecimal HALF_UP) while DuckDB scales by 10^k first, so a value
whose binary expansion sits within ~ulp(x * 10^k) of a .5*10^-k grid
point rounds differently — and a comparison then flips a whole
boolean/rank, not just the last hashed digit. That is exactly how
q_bollinger_bands failed CORRECTNESS_r07 (rows+schema matched, values
diverged).

Output-only roundings are governed by the continuous-valued rule: for
a continuous-valued double x, P(divergence) per row is about
ulp(x * 10^k) / (0.5 * 10^-k * 10^k) — negligible when the rounded
value carries few significant digits (|x| * 10^k small), and material
when it carries many (the bollinger sigma was ~9 significant digits).

This lint statically enumerates every round(expr, k>=1) site in every
registered oracle (the Spark expressions mirror the SQL 1:1 by the
parity convention, so the SQL side enumerates both) and flags sites
where the rounded result feeds a comparison operator, an ORDER BY
(top-k rank boundary), another round(), or an integer CAST — either
directly or through its column alias. Each flagged site must carry a
whitelist entry with a written justification (bounded magnitude under
the continuous-valued rule, or exact-representability argument), so
any NEW rounded-comparison site fails tests/test_round_protocol.py
until it is converted to the integer protocol or justified here.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_CMP_AFTER = re.compile(r"^\s*(>=|<=|<>|!=|=|>|<|\bBETWEEN\b|\bIN\b)",
                        re.IGNORECASE)
_CMP_BEFORE = re.compile(r"(>=|<=|<>|!=|=|>|<|\bBETWEEN\b|\bAND\b\s*$)\s*$")
_ORDER_BEFORE = re.compile(r"ORDER\s+BY\s*[^()]*$", re.IGNORECASE)
_AS_ALIAS = re.compile(r"^\s*AS\s+(\w+)", re.IGNORECASE)
_CAST_INT_BEFORE = re.compile(r"CAST\s*\(\s*$", re.IGNORECASE)


def _find_round_calls(sql: str):
    """Yield (start, end, inner, k) for round(<inner>, <k>) with k>=1,
    paren-balanced. end is the index just past the closing paren."""
    for m in re.finditer(r"\bround\s*\(", sql, re.IGNORECASE):
        depth = 1
        i = m.end()
        while i < len(sql) and depth:
            if sql[i] == "(":
                depth += 1
            elif sql[i] == ")":
                depth -= 1
            i += 1
        body = sql[m.end():i - 1]
        # split top-level comma
        depth = 0
        split = None
        for j, ch in enumerate(body):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 0:
                split = j
        if split is None:
            continue  # round(x) to integer: blessed protocol
        karg = body[split + 1:].strip()
        if not re.fullmatch(r"\d+", karg) or int(karg) < 1:
            continue
        yield m.start(), i, body[:split].strip(), int(karg)


def _alias_feeds_comparison(sql: str, alias: str) -> list[str]:
    """Occurrences of alias (outside its AS definition) adjacent to a
    comparison / integer-cast / round / arithmetic-into-round context."""
    hits = []
    for m in re.finditer(rf"\b{re.escape(alias)}\b", sql):
        before = sql[max(0, m.start() - 48):m.start()]
        after = sql[m.end():m.end() + 48]
        if re.search(rf"AS\s+$", before, re.IGNORECASE):
            continue  # the definition site
        ctx = None
        if _CMP_AFTER.search(after):
            ctx = f"cmp-after: ...{alias}{after[:24]!r}"
        elif re.search(r"(>=|<=|<>|!=|>|<)\s*$", before):
            ctx = f"cmp-before: {before[-24:]!r}{alias}..."
        elif re.search(r"round\s*\(\s*[^()]*$", before, re.IGNORECASE):
            ctx = f"re-round: {before[-32:]!r}{alias}"
        elif re.search(r"CAST\s*\(\s*$", before, re.IGNORECASE) and \
                re.search(r"^\s*AS\s+(BIGINT|INT|INTEGER|SMALLINT)",
                          after, re.IGNORECASE):
            ctx = f"int-cast: CAST({alias} AS INT...)"
        if ctx:
            hits.append(ctx)
    return hits


def lint_oracles(oracles: dict[str, str]) -> dict[str, list[dict]]:
    """Return {query_name: [finding, ...]} for every rounded-double
    site whose result feeds a comparison/rank/int-cast."""
    findings: dict[str, list[dict]] = {}
    for name, sql in oracles.items():
        out = []
        for start, end, inner, k in _find_round_calls(sql):
            before = sql[max(0, start - 64):start]
            after = sql[end:end + 64]
            contexts = []
            if _CMP_AFTER.search(after):
                contexts.append("direct-cmp-after")
            if re.search(r"(>=|<=|<>|!=|>|<)\s*$", before):
                contexts.append("direct-cmp-before")
            if _ORDER_BEFORE.search(before):
                contexts.append("order-by-rank")
            if _CAST_INT_BEFORE.search(before) and re.search(
                    r"^\s*AS\s+(BIGINT|INT|INTEGER)", after, re.IGNORECASE):
                contexts.append("int-cast")
            am = _AS_ALIAS.match(after)
            if am:
                contexts += _alias_feeds_comparison(sql, am.group(1))
            if contexts:
                out.append({
                    "expr": re.sub(r"\s+", " ", inner)[:96],
                    "k": k,
                    "contexts": contexts,
                })
        if out:
            findings[name] = out
    return findings


# ------------------------------------------------------------------
# Literal-typing lint (round-9, after the q_gumbel_maxima driver FAIL)
#
# A bare decimal literal (`1.0`, `0.2`) types as DECIMAL in Spark SQL
# but DuckDB's `/` ALWAYS returns DOUBLE — so a division whose Spark
# operands are both non-double is evaluated as decimal division in
# Spark (result scale per Spark's promotion rules) and double division
# in DuckDB. `ln(-ln(1.0 - 1.0/52))` diverged at the 5th decimal that
# way (CORRECTNESS_r08). Decimal +/-/* are exact and convert to the
# same nearest double in both engines; division is THE hazard op
# (integer `//` is truncating and engine-identical).
#
# This lint flags every `/` site in every registered oracle where at
# least one textual operand contains a bare decimal literal and
# NEITHER operand carries a double marker (::DOUBLE, CAST .. AS
# DOUBLE, a double-returning transcendental, or an e-notation literal
# — `1.0e0` is DOUBLE in both engines and is the preferred fix).
# The lint is alias-blind: an operand that is a double-typed column
# alias (e.g. `az` from a sqrt) still flags and needs a whitelist
# entry saying so. Every whitelisted site carries its written
# exactness/scale argument.
# ------------------------------------------------------------------

_LIT = re.compile(r"(?<![\w.$])\d+\.\d+(?![\w.])")
_DOUBLE_MARK = re.compile(
    r"(::\s*DOUBLE|AS\s+DOUBLE|\b(ln|log|log2|log10|exp|sqrt|pow|power|"
    r"cbrt|atan2|atan|asin|acos|sin|cos|tan|pi|degrees|radians)\s*\(|"
    r"\d\.?\d*[eE][+-]?\d)", re.I)

# (query, substring-of-normalized-site) -> justification
_LIT_DIV_WHITELIST = {
    ("doc_chunk_tokens", "len(words) / 30.0"):
        "feeds ceil(); boundaries only at integer quotients, which both"
        " decimal and correctly-rounded double division return exactly;"
        " non-integer quotients are >= 1/30 from a boundary. Spark side"
        " (operators/chunking.py) is pure integer arithmetic.",
    ("q2_min_cost_supplier", "ps_supplycost_cents / 100.0"):
        "cents/100 is exact on the 2dp grid; Spark's decimal quotient"
        " and DuckDB's double both round(.,2) to the identical grid"
        " value (no .5 knife-edge exists for on-grid inputs).",
    ("q_dp_counts", "1000 / 1000.0"):
        "integer-valued quotient (eps_milli/1000 = 1.0 exactly);"
        " decimal and double representations are both exact.",
    ("q_dp_counts", "::BIGINT / 4503599627370496.0"):
        "m/2^52 with m < 2^52: double division is dyadic-exact; Spark's"
        " scale-19 decimal differs by <5e-20 abs, which perturbs the"
        " 6dp-rounded -ln(u) only for u within 5e-20 of a knife-edge"
        " (P ~ 1e-12/row). Driver-verified r07.",
    ("q_embedding_quantize", "max(abs(v)) / 127.0"):
        "v is a DOUBLE column (embedding floats); double/decimal"
        " promotes to double in both engines. Alias-blind flag.",
    ("q_minhash_accuracy", "END)) / 8.0"):
        "n/8 is binary-exact in double (2^-3 dyadic) and exact in"
        " decimal at scale>=3; identical values in both engines.",
    ("q_poisson_bootstrap", "::BIGINT / 4294967296.0"):
        "m/2^32 with m < 2^32: double division is dyadic-exact; Spark's"
        " scale-17 decimal differs by <5e-18 abs against fixed Poisson"
        " CDF thresholds (divergence window ~1e-17/comparison)."
        " Driver-verified r05.",
    ("q_ridge_2feature", "(c11 + c22) / 200.0"):
        "c11/c22 are DOUBLE aliases (explicit CAST .. AS DOUBLE on the"
        " DECIMAL(38,0) cross-moments upstream); double/decimal"
        " promotes to double in both engines. Alias-blind flag.",
    ("q_sprt_status", "(1.0 - p1) / (1.0 - p0)"):
        "p0/p1 are DOUBLE aliases (CAST .. AS DOUBLE / 1000000.0"
        " upstream); decimal-minus-double promotes to double in both"
        " engines. Alias-blind flag.",
    ("q_value_histogram", "value / 50.0"):
        "value is a DOUBLE column (events.value); double/decimal"
        " promotes to double in both engines. Alias-blind flag.",
    ("q_weighted_sample", "::BIGINT + 1) / 4503599627370496.0"):
        "m/2^52 with m <= 2^52: double division is dyadic-exact; same"
        " scale argument as q_dp_counts. Driver-verified r06.",
}


def _operand_left(sql: str, i: int) -> str:
    j, depth = i, 0
    while j > 0:
        ch = sql[j - 1]
        if ch == ")":
            depth += 1
        elif ch == "(":
            if depth == 0:
                break
            depth -= 1
        elif depth == 0 and ch in "+-,<>=|&":
            break
        j -= 1
    return sql[j:i]


def _operand_right(sql: str, i: int) -> str:
    j, depth, n = i, 0, len(sql)
    while j < n:
        ch = sql[j]
        if ch == "(":
            depth += 1
        elif ch == ")":
            if depth == 0:
                break
            depth -= 1
        elif depth == 0 and ch in "+,<>=" and j > i:
            break
        elif depth == 0 and ch == "-" and j > i + 1:
            break
        elif depth == 0 and ch in "*/" and j > i:
            break
        j += 1
    return sql[i:j]


def lint_literal_typing(oracles: dict[str, str]) -> dict[str, list[str]]:
    """Return {query: [site, ...]} for every decimal-literal division
    with no double-forcing marker on either operand, excluding
    whitelisted sites."""
    findings: dict[str, list[str]] = {}
    for name, sql in oracles.items():
        seen: set[str] = set()
        for m in re.finditer(r"(?<![/])/(?![/])", sql):
            i = m.start()
            lo = _operand_left(sql, i)
            ro = _operand_right(sql, i + 1)
            if not (_LIT.search(lo) or _LIT.search(ro)):
                continue
            if _DOUBLE_MARK.search(lo) or _DOUBLE_MARK.search(ro):
                continue
            site = re.sub(
                r"\s+", " ",
                lo.strip()[-44:] + " / " + ro.strip()[:44])
            if site in seen:
                continue
            seen.add(site)
            if any(q == name and frag in site
                   for (q, frag) in _LIT_DIV_WHITELIST):
                continue
            findings.setdefault(name, []).append(site)
    return findings


if __name__ == "__main__":
    from document_parsing_etl_pipeline_spark.plans.queries import ORACLES

    findings = lint_oracles(ORACLES)
    for name, items in sorted(findings.items()):
        for it in items:
            print(f"{name}: round(..., {it['k']}) "
                  f"[{'; '.join(it['contexts'])}] expr={it['expr']}")
    print(f"\n{sum(len(v) for v in findings.values())} flagged sites "
          f"in {len(findings)} queries")
    lit = lint_literal_typing(ORACLES)
    for name, sites in sorted(lit.items()):
        for s in sites:
            print(f"LITERAL-TYPING {name}: {s}")
    print(f"{sum(len(v) for v in lit.values())} unwhitelisted"
          f" decimal-literal divisions in {len(lit)} queries")
