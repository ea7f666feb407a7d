"""Rounded-double comparison protocol lint (round 8).

After q_bollinger_bands failed the driver value-hash in round 7
(round(sqrt(double), 3) fed a band comparison and flipped at a .0005
boundary), this test ratchets the whole registry: every oracle site
where a ``round(<expr>, k>=1)`` result feeds a comparison, ORDER BY
rank, re-round, or integer cast must carry a whitelist entry with a
written justification. A NEW rounded-comparison site fails here until
it is converted to the integer protocol or justified below.

Why round(double, k>=1) is asymmetric between engines (measured, see
test_half_grid_divergence_exists): Spark rounds the shortest decimal
representation of the double (BigDecimal HALF_UP); DuckDB multiplies
by 10^k in floating point first. A value whose binary expansion sits
within ~ulp(x * 10^k) of a half-grid point (odd multiple of
0.5 * 10^-k) can round differently. round-to-INTEGER (k=0) has no
pre-scaling and is always engine-identical on the same double.

Justification classes:

- RATIO_BOUNDED: the rounded value is a ratio/cosine/jaccard/
  probability with |x| <= ~10, so |x * 10^k| <= ~1e7 and the
  divergence window is ~ulp(1e7)/0.5 ~ 4e-9 per row (continuous-
  valued rule, SURVEY §4). Grid-exact cases (power-of-two
  denominators) are exactly representable and round half-away-from-
  zero on BOTH engines (Java HALF_UP == C++ std::round for them).
- MEDIAN_OF_INTEGERS: quantile_cont over integer-valued data yields
  k or k+0.5 exactly (representable); round at >=1 dp is identity.
- ROUND_THEN_RESCALE: the value was already placed on a decimal grid
  by an earlier round; the consumer re-rounds after scaling by 10^j
  (j <= k), so inputs sit within ulp of the consumer's OWN grid
  points — never near the .5-offset boundary.
- GRID_INPUT_IDENTITY: source data is decimal-grid valued (2dp TPC-H
  money), every derived value lands on the k-dp grid, round is
  identity on both engines.
- IDENTICAL_DERIVATION: both comparison sides are computed from the
  same rounded columns by the same expression tree in both engines —
  the comparison sees bit-identical doubles on both sides, so it
  cannot flip at this site (any divergence must originate upstream,
  where it is covered by one of the other classes).
- EXACT_CONSTANT: round of a literal constant expression — the same
  double on both engines.

NOT justifiable (convert to the integer protocol instead — the
bollinger/embedding-norms/dim-variance lesson): a quantile over
GRID-VALUED data re-rounded at the same grid (midpoints are exact
half-grid points with ~1/2 probability, a coin flip per dataset),
or any rounded transcendental carrying more than ~7 significant
digits into a comparison.
"""

import ast
import pathlib
import sys

import pytest

sys.path.insert(0, "/root/repo")

from document_parsing_etl_pipeline_spark.plans.queries import ORACLES
from scripts.round_lint import lint_oracles

# (query, k, first-40-chars-of-inner-expr) -> justification class
_J = "len(list_filter(ta.tokens, t -> list_con"  # shingle jaccard
WHITELIST = {
    # --- jaccard threshold joins (ratio of small ints in [0,1]) ---
    ("dedup_components", 4, _J): "RATIO_BOUNDED",
    ("dedup_components_star", 4, _J): "RATIO_BOUNDED",
    ("dedup_ngram_jaccard", 4, _J): "RATIO_BOUNDED",
    ("q_cluster_density", 4, _J): "RATIO_BOUNDED",
    ("q_component_lookup", 4, _J): "RATIO_BOUNDED",
    ("q_cluster_purity", 4, _J): "RATIO_BOUNDED",
    ("q_dedup_cluster_sizes", 4, _J): "RATIO_BOUNDED",
    ("q_dedup_recall_capture", 4, _J): "RATIO_BOUNDED",
    ("q_dedup_threshold_curve", 4, _J): "RATIO_BOUNDED",
    ("q_degree_distribution", 4, _J): "RATIO_BOUNDED",
    ("q_dup_rate_by_length", 4, _J): "RATIO_BOUNDED",
    ("q_dup_source_matrix", 4, _J): "RATIO_BOUNDED",
    ("q_graph_assortativity", 4, _J): "RATIO_BOUNDED",
    ("q_graph_modularity", 4, _J): "RATIO_BOUNDED",
    ("q_lsh_band_planner", 4, _J): "RATIO_BOUNDED",
    ("q_neardup_materialize", 4, _J): "RATIO_BOUNDED",
    ("q_powerlaw_alpha", 4, _J): "RATIO_BOUNDED",
    # --- cosine thresholds / rank keys (|cos| <= 1) ---
    ("dedup_embedding", 4, "list_inner_product(a.embedding::DOUBLE[]"):
        "RATIO_BOUNDED",
    ("knn_ivf_probe", 4, "CASE WHEN list_inner_product(e.embedding"):
        "RATIO_BOUNDED",
    ("knn_ivf_probe", 4, "CASE WHEN list_inner_product(p.qv::DOUBL"):
        "RATIO_BOUNDED",
    ("q_ivf_nprobe_curve", 4, "CASE WHEN list_inner_product(e.embedding"):
        "RATIO_BOUNDED",
    ("q_ivf_nprobe_curve", 4, "CASE WHEN list_inner_product(q.embedding"):
        "RATIO_BOUNDED",
    ("q_ivf_recall_audit", 4, "CASE WHEN list_inner_product(e.embedding"):
        "RATIO_BOUNDED",
    ("q_ivf_recall_audit", 4, "CASE WHEN list_inner_product(p.qv::DOUBL"):
        "RATIO_BOUNDED",
    ("q_ivf_recall_audit", 4, "CASE WHEN list_inner_product(q.embedding"):
        "RATIO_BOUNDED",
    ("q_semdedup", 4, "CASE WHEN list_inner_product(x.embedding"):
        "RATIO_BOUNDED",
    # --- bounded ratios / probabilities vs fixed thresholds ---
    ("q_conversion_wilson", 6,
     "((x * cast(1.0 as double) / n) + cast(3."): "RATIO_BOUNDED",
    ("q_conversion_wilson", 6, "(x * cast(1.0 as double) / n)"):
        "RATIO_BOUNDED",
    ("q_corpus_curation", 4, "len(list_distinct(w.words)) / greatest(l"):
        "RATIO_BOUNDED",
    ("q_corpus_curation", 4, "r.top_ratio"): "ROUND_THEN_RESCALE",
    ("q_gopher_filters", 4, "word_chars / nw"): "RATIO_BOUNDED",
    ("q_gopher_filters", 4, "n_symbols / nw"): "RATIO_BOUNDED",
    ("q_gopher_filters", 4, "alpha_words / nw"): "RATIO_BOUNDED",
    ("q_gopher_filters", 4, "bullet_lines / n_lines"): "RATIO_BOUNDED",
    ("q_gopher_filters", 4, "ellipsis_lines / n_lines"): "RATIO_BOUNDED",
    ("q_embedding_quantize", 6, "scale"): "RATIO_BOUNDED",
    # --- 6dp-grid values rescaled to integer micro units ---
    ("q_bloom_planner", 6, "pow(1.0 - round(exp(-(CAST(round(cfg.mpn"):
        "ROUND_THEN_RESCALE",
    ("q_bm25_scores", 6, "ln(((t.n_docs - d.df)::DOUBLE + 0.5) / ("):
        "ROUND_THEN_RESCALE",
    ("q_reciprocal_rank_fusion", 6,
     "ln(((t.n_docs - d.df)::DOUBLE + 0.5) / ("): "ROUND_THEN_RESCALE",
    ("q_kneser_ney_bigram", 6, "(g.c - 0.75e0) / u.c1 + (0.75e0 * u.n1f "):
        "ROUND_THEN_RESCALE",
    ("q_kneser_ney_bigram", 6, "g.c::DOUBLE / u.c1"):
        "ROUND_THEN_RESCALE",
    # --- medians of integer-valued series (exact k or k+0.5) ---
    ("q_peak_detection", 4, "quantile_cont(n, 0.5)"):
        "MEDIAN_OF_INTEGERS",
    ("q_regime_runs", 4, "quantile_cont(n, 0.5)"): "MEDIAN_OF_INTEGERS",
    ("q_runs_test", 4, "quantile_cont(x, 0.5)"): "MEDIAN_OF_INTEGERS",
    # --- 2dp money: round(sum(DECIMAL)::DOUBLE, 2) is identity ---
    ("q_orders_monthly_trend", 2, "sum(o_totalprice::DECIMAL(18,6))::DOUBLE"):
        "GRID_INPUT_IDENTITY",
    ("q_rfm_segments", 2, "sum(o_totalprice::DECIMAL(18,6))::DOUBLE"):
        "GRID_INPUT_IDENTITY",
    # --- both compare sides from the same rounded columns ---
    ("q_sprt_status", 4, "xb * round(ln(p1 / p0), 6) + (nb - xb) *"):
        "IDENTICAL_DERIVATION",
    ("q_zipf_slope", 6, "(n * (sxy::DOUBLE) - (sx::DOUBLE) * (sy:"):
        "IDENTICAL_DERIVATION",
}

_CLASSES = {
    "RATIO_BOUNDED", "MEDIAN_OF_INTEGERS", "ROUND_THEN_RESCALE",
    "GRID_INPUT_IDENTITY", "IDENTICAL_DERIVATION", "EXACT_CONSTANT",
}


def test_no_unjustified_rounded_comparisons():
    findings = lint_oracles(ORACLES)
    unjustified = []
    for name, items in findings.items():
        for it in items:
            key = (name, it["k"], it["expr"][:40])
            if key not in WHITELIST:
                unjustified.append((key, it["contexts"]))
    assert not unjustified, (
        "rounded-double results feeding comparisons without a protocol "
        "justification (convert to the integer protocol — see "
        "q_bollinger_bands round-8 rewrite — or add a whitelist entry "
        f"with a justification class): {unjustified}"
    )


def test_whitelist_entries_still_exist():
    """A whitelist entry whose site disappeared is stale — prune it so
    the list stays an accurate inventory."""
    findings = lint_oracles(ORACLES)
    live = {
        (name, it["k"], it["expr"][:40])
        for name, items in findings.items()
        for it in items
    }
    stale = [k for k in WHITELIST if k not in live]
    assert not stale, f"stale whitelist entries: {stale}"
    bad = {k: v for k, v in WHITELIST.items() if v not in _CLASSES}
    assert not bad, f"unknown justification class: {bad}"


def test_no_unwhitelisted_literal_divisions():
    """Round-9 lint (after the q_gumbel_maxima driver FAIL): a bare
    decimal literal in a division with no double-forcing marker on
    either operand is decimal division in Spark but double division in
    DuckDB. Every such site must be rewritten (e-notation `1.0e0` /
    CAST AS DOUBLE / a Python-precomputed shared constant) or carry a
    written whitelist justification in scripts/round_lint.py."""
    from scripts.round_lint import lint_literal_typing

    findings = lint_literal_typing(ORACLES)
    assert not findings, (
        "decimal-literal divisions with engine-divergent typing "
        f"(fix with e-notation or whitelist with a scale argument): "
        f"{findings}"
    )


def test_literal_typing_whitelist_not_stale():
    from scripts.round_lint import (_DOUBLE_MARK, _LIT,
                                    _LIT_DIV_WHITELIST, _operand_left,
                                    _operand_right)
    import re

    live = set()
    for name, sql in ORACLES.items():
        for m in re.finditer(r"(?<![/])/(?![/])", sql):
            i = m.start()
            lo = _operand_left(sql, i)
            ro = _operand_right(sql, i + 1)
            if not (_LIT.search(lo) or _LIT.search(ro)):
                continue
            if _DOUBLE_MARK.search(lo) or _DOUBLE_MARK.search(ro):
                continue
            site = re.sub(r"\s+", " ",
                          lo.strip()[-44:] + " / " + ro.strip()[:44])
            for (q, frag) in _LIT_DIV_WHITELIST:
                if q == name and frag in site:
                    live.add((q, frag))
    stale = [k for k in _LIT_DIV_WHITELIST if k not in live]
    assert not stale, f"stale literal-typing whitelist entries: {stale}"


def test_bare_decimal_literal_division_diverges(spark):
    """Documents WHY the literal lint exists: `1.0 - 1.0/52` is
    DECIMAL(8,6) in Spark (0.980769, truncated) but DOUBLE in DuckDB —
    the exact q_gumbel_maxima r08 driver FAIL — while the e-notation
    form agrees bit-for-bit."""
    import duckdb
    import math

    con = duckdb.connect()
    expr = "round(ln(-ln(1.0 - 1.0 / 52)), 6)"
    d = con.execute(f"select {expr}").fetchone()[0]
    s = spark.sql(f"select {expr} as r").collect()[0]["r"]
    assert d != s, "engines now agree on bare-decimal ln composition"
    fixed = "round(ln(-ln(1.0e0 - 1.0e0 / 52)), 6)"
    d2 = con.execute(f"select {fixed}").fetchone()[0]
    s2 = spark.sql(f"select {fixed} as r").collect()[0]["r"]
    assert d2 == s2 == round(math.log(-math.log(1 - 1 / 52)), 6)


def test_half_grid_divergence_exists(spark):
    """Documents WHY the protocol exists: Spark and DuckDB measurably
    disagree on round(x, 4) for a double just below a half-grid point
    (this exact value regressed q_bollinger_bands-class queries)."""
    import duckdb
    from pyspark.sql import functions as F

    v = 977.7561499999999  # shortest repr ends ...95: Spark sees .75614999..
    d = duckdb.connect().execute(
        "select round(?::DOUBLE, 4)", [v]).fetchone()[0]
    s = spark.range(1).select(
        F.round(F.lit(v), 4).alias("r")).collect()[0]["r"]
    assert d != s, (
        "engines now agree on the half-grid witness — if DuckDB or "
        "Spark changed rounding semantics, re-evaluate the whitelist "
        "classes above"
    )


def test_round_to_integer_is_engine_identical(spark):
    """The blessed escape hatch: round-to-INTEGER of the same double
    has no pre-scaling asymmetry — both engines agree even exactly on
    half values (HALF_UP == half-away-from-zero for them)."""
    import duckdb
    from pyspark.sql import functions as F

    vals = [2.5, 3.5, -2.5, 0.49999999999999994, 1e15 + 0.5,
            977.75615 * 10000, 4999.999999999999]
    con = duckdb.connect()
    for v in vals:
        d = con.execute("select CAST(round(?::DOUBLE) AS BIGINT)",
                        [v]).fetchone()[0]
        s = spark.range(1).select(
            F.expr(f"CAST(round(CAST({v!r} AS DOUBLE)) AS BIGINT)")
            .alias("r")).collect()[0]["r"]
        assert d == s, f"round-to-int diverged on {v!r}: duck={d} spark={s}"


def test_manifest_bloom_planner_constants_match_tableformat():
    """q_manifest_bloom_planner grades the EXACT bloom the table
    format ships — its m/k constants must track tableformat's."""
    from document_parsing_etl_pipeline_spark.plans import queries as q
    from document_parsing_etl_pipeline_spark.sources import (
        tableformat as tf,
    )

    assert q._MBLOOM_M == tf._BLOOM_M
    assert q._MBLOOM_K == tf._BLOOM_K
    # the ENGAGED rows-per-file decision (round 12): the ingest sizes
    # index files to the largest grid candidate the planner marks
    # unsaturated — one shared grid, one saturation crossing
    from document_parsing_etl_pipeline_spark.streaming import neardup

    assert tuple(q._MBLOOM_NPF) == neardup.BLOOM_NPF_CANDIDATES
    assert neardup.INDEX_ROWS_PER_FILE == max(
        n for n in q._MBLOOM_NPF if n < q._MBLOOM_NSAT
    )


def test_index_optimize_planner_constants_match_neardup():
    """q_index_optimize_planner derives the decision table
    maybe_optimize_index executes — shared constants must agree."""
    from document_parsing_etl_pipeline_spark.plans import queries as q
    from document_parsing_etl_pipeline_spark.streaming import neardup

    # files per simulated batch = the live ingest's own sizing rule
    # applied to the simulated trigger (engaged bloom-planner npf)
    assert q._NDOPT_FPB == neardup.index_files_for(
        q._NDOPT_B * (q._MH_K // q._MH_BAND)
    )
    assert q._NDOPT_TFR == neardup.OPT_TARGET_FILE_ROWS
    assert q._NDOPT_FTRE == neardup.OPT_FTRE
    assert q._NDOPT_HORIZON == neardup.OPT_PAYBACK_HORIZON
    assert q._NDOPT_MINSAVE == neardup.OPT_MIN_FILE_SAVING


def test_popcount_audit_crossings_pin_the_engaged_gate():
    """q_bloom_popcount_audit renders Python-precomputed INTEGER
    crossings as SQL literals; this pins them to the decision the
    engaged gate (tableformat._bloom_prunable) actually makes, for
    every probe size in the audit grid, across a sweep of nbits /
    row-count values spanning each crossing — one shared rule, graded
    and executed, never diverging."""
    from document_parsing_etl_pipeline_spark.plans import queries as q
    from document_parsing_etl_pipeline_spark.sources import (
        tableformat as tf,
    )
    from document_parsing_etl_pipeline_spark.streaming import neardup

    assert q._BPA_DOCS_PER_FILE == (
        neardup.INDEX_ROWS_PER_FILE // (q._MH_K // q._MH_BAND)
    )
    for nk in q._BPA_PROBES:
        nbits_lim, rows_lim = q._BPA_CROSS[nk]
        assert (nbits_lim, rows_lim) == tf.bloom_prunable_crossings(nk)
        for nb in {0, 1, nbits_lim - 1, nbits_lim, nbits_lim + 1,
                   tf._BLOOM_M}:
            e = {"blooms": {"c": {"nbits": nb}}, "rows": 10**9}
            assert tf._bloom_prunable(e, "c", nk) == (nb < nbits_lim), (
                nk, nb)
        for r in {0, 1, rows_lim - 1, rows_lim, rows_lim + 1, 10**7}:
            e = {"blooms": {"c": {"has_null": False}}, "rows": r}
            assert tf._bloom_prunable(e, "c", nk) == (r < rows_lim), (
                nk, r)
    # the audited position expression is _write_files' own: nbits in
    # a manifest written by the engine equals the audit's count for
    # the same keys (cross-checked end-to-end in test_tableformat's
    # popcount test; here we pin the driver-side hash contract)
    ps = tf.bloom_positions(42)
    assert len(ps) == tf._BLOOM_K and all(0 <= p < tf._BLOOM_M
                                          for p in ps)


# ------------------------------------------------------ one tokenizer

_PKG = pathlib.Path(__file__).resolve().parents[1] / (
    "document_parsing_etl_pipeline_spark")
_TOKEN_PATTERNS = (r"\S+", "[a-z]+")


def _call_name(call: ast.Call) -> str | None:
    f = call.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)


def _string_parts(node: ast.AST) -> list[str]:
    """Literal strings under ``node``; an f-string counts as the
    concatenation of its literal parts."""
    out = []
    for n in ast.walk(node):
        if isinstance(n, ast.JoinedStr):
            out.append("".join(v.value for v in n.values
                               if isinstance(v, ast.Constant)))
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            out.append(n.value)
    return out


def inline_tokenizer_sites(root: pathlib.Path = _PKG) -> list[str]:
    """Spark-side tokenizer copies outside operators/parse.py: a
    ``regexp_extract_all`` call, or an ``expr``/``selectExpr`` string
    calling it, whose pattern is one of the tokenizer patterns. Oracle
    SQL strings are not calls, so the reference SQL is ignored."""
    sql_pats = [p.replace("\\", "\\\\") for p in _TOKEN_PATTERNS]
    sites = []
    for path in sorted(root.rglob("*.py")):
        if path == root / "operators" / "parse.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            name = _call_name(node)
            if name == "regexp_extract_all":
                hit = any(s in _TOKEN_PATTERNS
                          for a in [*node.args, *node.keywords]
                          for s in _string_parts(a))
            elif name in ("expr", "selectExpr"):
                hit = any("regexp_extract_all" in s
                          and any(p in s for p in (*_TOKEN_PATTERNS,
                                                   *sql_pats))
                          for s in _string_parts(node))
            else:
                continue
            if hit:
                sites.append(f"{path.relative_to(root)}:{node.lineno}")
    return sites


def test_no_inline_tokenizer_copies():
    """Text becomes tokens only through operators/parse.py (its
    column helpers or doc_terms): a new inline copy fails here."""
    assert inline_tokenizer_sites() == []


def test_tokenizer_lint_catches_each_spelling(tmp_path):
    (tmp_path / "operators").mkdir()
    (tmp_path / "m.py").write_text(
        'a = F.regexp_extract_all(F.lower(F.col("t")), F.lit(r"\\S+"), 0)\n'
        'b = F.regexp_extract_all(F.col("t"), F.lit("[a-z]+"), 0)\n'
        "c = F.expr(\"regexp_extract_all(t, '\\\\\\\\S+', 0)\")\n"
        "d = F.expr(f\"regexp_extract_all({col}, '\\\\\\\\S+', 0)\")\n"
        "ORACLE = \"SELECT regexp_extract_all(lower(t), '\\\\S+')\"\n"
        'e = F.regexp_extract_all(F.col("t"), F.lit("[0-9]"), 0)\n'
    )
    (tmp_path / "operators" / "parse.py").write_text(
        'x = F.regexp_extract_all(c, F.lit(r"\\S+"), 0)\n')
    assert inline_tokenizer_sites(tmp_path) == [
        "m.py:1", "m.py:2", "m.py:3", "m.py:4"]


# ------------------------------------------------- one concurrency helper

_THREAD_NAMES = ("ThreadPoolExecutor", "inheritable_thread_target")


def thread_helper_sites(root: pathlib.Path = _PKG) -> list[str]:
    """References to ``ThreadPoolExecutor`` or
    ``inheritable_thread_target`` (a name, an attribute or an imported
    name) anywhere but the body of ``session.concurrently`` and
    session.py's own module-level imports."""
    sites = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text())
        allowed = set()
        if path == root / "session.py":
            for node in tree.body:
                if (isinstance(node, (ast.Import, ast.ImportFrom))
                        or (isinstance(node, ast.FunctionDef)
                            and node.name == "concurrently")):
                    allowed.update(map(id, ast.walk(node)))
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                name = node.id
            elif isinstance(node, ast.Attribute):
                name = node.attr
            elif isinstance(node, ast.alias):
                name = node.name.rsplit(".", 1)[-1]
            else:
                continue
            if name in _THREAD_NAMES and id(node) not in allowed:
                sites.append(f"{path.relative_to(root)}:{node.lineno}")
    return sites


def test_threads_only_in_session_concurrently():
    """Concurrent Spark jobs are submitted only through
    session.concurrently (one thread per call, each wrapped in its own
    inheritable_thread_target): a second copy of the pattern fails
    here."""
    assert thread_helper_sites() == []


def test_thread_helper_lint_catches_a_planted_copy(tmp_path):
    (tmp_path / "session.py").write_text(
        "from concurrent.futures import ThreadPoolExecutor\n"
        "from pyspark import inheritable_thread_target\n"
        "def concurrently(spark, calls):\n"
        "    with ThreadPoolExecutor(len(calls)) as pool:\n"
        "        return [pool.submit(inheritable_thread_target(spark)(c))\n"
        "                for c in calls]\n"
        "def other(spark, f):\n"
        "    return inheritable_thread_target(spark)(f)\n")
    (tmp_path / "m.py").write_text(
        "from concurrent.futures import ThreadPoolExecutor as Pool\n"
        "import concurrent.futures as cf\n"
        "import pyspark\n"
        "p = cf.ThreadPoolExecutor(3)\n"
        "t = pyspark.inheritable_thread_target(spark)\n"
        "from .session import concurrently\n")
    assert thread_helper_sites(tmp_path) == [
        "m.py:1", "m.py:4", "m.py:5", "session.py:8"]


# ------------------------------------------------- point-read keys

# Column methods that compare their column with their arguments.
_COMPARING_METHODS = {"between", "isin", "eqNullSafe", "like", "rlike",
                      "ilike", "startswith", "endswith", "contains"}


def bare_key_sites(path: pathlib.Path = _PKG / "processor.py") -> list[str]:
    """Comparisons in ``path`` of a Spark column expression with a bare
    Python value: a comparison operator with a column on one side and
    no column on the other, or a comparing Column method called with
    a bare argument. A column expression is one rooted at a
    ``pyspark.sql.functions`` call (``F.col(...)``, ``col(...)``, and
    method chains on them). Every key and bound of an API read goes
    through ``docstore.key_predicate``, which keeps the value out of
    generated code; a bare value is compiled into it."""
    tree = ast.parse(path.read_text())
    modules, names = set(), set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "pyspark.sql":
            modules.update(a.asname or a.name for a in node.names
                           if a.name == "functions")
        elif (isinstance(node, ast.ImportFrom)
              and node.module == "pyspark.sql.functions"):
            names.update(a.asname or a.name for a in node.names)
        elif isinstance(node, ast.Import):
            modules.update(a.asname for a in node.names
                           if a.name == "pyspark.sql.functions" and a.asname)

    def is_column(node) -> bool:
        while True:
            if isinstance(node, ast.Call):
                node = node.func
            elif isinstance(node, ast.Attribute):
                if (isinstance(node.value, ast.Name)
                        and node.value.id in modules):
                    return True
                node = node.value
            elif isinstance(node, ast.Subscript):
                node = node.value
            elif isinstance(node, ast.UnaryOp):
                node = node.operand
            elif isinstance(node, ast.BinOp):
                return is_column(node.left) or is_column(node.right)
            else:
                return isinstance(node, ast.Name) and node.id in names

    sites = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Compare):
            sides = [is_column(x) for x in (node.left, *node.comparators)]
            if any(sides) and not all(sides):
                sites.add(node.lineno)
        elif (isinstance(node, ast.Call)
              and isinstance(node.func, ast.Attribute)
              and node.func.attr in _COMPARING_METHODS
              and is_column(node.func.value)
              and not all(map(is_column, node.args))):
            sites.add(node.lineno)
    return [f"{path.name}:{n}" for n in sorted(sites)]


def test_point_read_keys_go_through_key_predicate():
    """processor.py compares no column with a bare Python value: its
    keys and bounds all go through docstore.key_predicate."""
    assert bare_key_sites() == []


def test_bare_key_lint_catches_a_planted_copy(tmp_path):
    path = tmp_path / "processor.py"
    path.write_text(
        "from pyspark.sql import functions as F\n"
        "from pyspark.sql.functions import col\n"
        "import pyspark.sql.functions as sf\n"
        "from .sources import docstore\n"
        "a = t.where(F.col('doc_id') == doc_id)\n"
        "b = t.where(F.col('chunk_index').cast('int') >= 3)\n"
        "c = t.where(5 < col('doc_id'))\n"
        "d = t.where(~(sf.col('image_path') != path))\n"
        "e = t.where(F.col('chunk_index').between(lo, hi))\n"
        "f = t.where(F.col('doc_id').isin([1, 2]))\n"
        "g = t.where(docstore.key_predicate('doc_id', '==', doc_id))\n"
        "h = t.where(F.col('a') == F.col('b') + 1)\n"
        "i = e.getCondition() != 'PATH_NOT_FOUND'\n"
        "j = sorted(rows, key=lambda r: r['chunk_index'] > 0)\n")
    assert bare_key_sites(path) == [
        "processor.py:5", "processor.py:6", "processor.py:7",
        "processor.py:8", "processor.py:9", "processor.py:10"]
