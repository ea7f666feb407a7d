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

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

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


# ------------------------------------------------- environment reads

_ENV_NAMES = ("environ", "environb", "getenv", "getenvb")


def environ_reads(root: pathlib.Path = _PKG) -> list[str]:
    """Reads of the process environment (``os.environ``,
    ``os.getenv``, also imported by name from ``os``) in any package
    module but session.py, which holds the deployment settings."""
    sites = []
    for path in sorted(root.rglob("*.py")):
        if path == root / "session.py":
            continue
        lines = set()
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Attribute):
                hit = node.attr in _ENV_NAMES
            elif isinstance(node, ast.ImportFrom):
                hit = node.module == "os" and any(
                    a.name in _ENV_NAMES for a in node.names)
            else:
                continue
            if hit:
                lines.add(node.lineno)
        sites += [f"{path.relative_to(root)}:{n}" for n in sorted(lines)]
    return sites


def test_environment_is_read_only_in_session():
    """Only session.py reads environment variables (memory, CPUs,
    JAVA_HOME, the cache directory): a package option selected by an
    environment variable fails here."""
    assert environ_reads() == []


def test_environ_lint_catches_each_spelling(tmp_path):
    (tmp_path / "session.py").write_text(
        "import os\ncpus = os.environ.get('SPARK_GRAFT_CPUS')\n")
    (tmp_path / "m.py").write_text(
        "import os\n"
        "import os as o\n"
        "from os import environ\n"
        "from os import getenv as g\n"
        "a = os.environ.get('A')\n"
        "b = o.environ['B']\n"
        "c = os.getenv('C')\n"
        "d = os.path.join('x', 'y')\n")
    assert environ_reads(tmp_path) == [
        "m.py:3", "m.py:4", "m.py:5", "m.py:6", "m.py:7"]


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


# ------------------------------------------------- package code has callers

def _product_modules(root: pathlib.Path) -> list[pathlib.Path]:
    """The non-test Python modules under ``root``: the package,
    bench.py, __spark_entry__.py, scripts/ and perfbench/."""
    paths = [root / "bench.py", root / "__spark_entry__.py"]
    for d in (_PKG.name, "scripts", "perfbench"):
        paths += (root / d).rglob("*.py")
    return sorted(p for p in paths if p.is_file()
                  and "tests" not in p.relative_to(root).parts)


def _dotted(root: pathlib.Path, path: pathlib.Path) -> str:
    parts = path.relative_to(root).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _public(tree: ast.Module) -> dict[str, ast.stmt]:
    """A module's public top-level functions and upper-case constants
    (``NAME = ...``), each with the statement that defines it."""
    out = {}
    for n in tree.body:
        if isinstance(n, ast.FunctionDef):
            out[n.name] = n
        elif isinstance(n, (ast.Assign, ast.AnnAssign)):
            targets = n.targets if isinstance(n, ast.Assign) else [n.target]
            out.update((t.id, n) for t in targets
                       if isinstance(t, ast.Name) and t.id.isupper())
    return {k: v for k, v in out.items() if not k.startswith("_")}


def _imports(root: pathlib.Path, paths: list[pathlib.Path]):
    """Parse ``paths``; return (trees, aliases, stars, names), each
    keyed on the dotted module: its module aliases (``from <pkg> import
    m [as alias]``, ``import m as alias``), its star-imported modules,
    and its other imported names (``from m import name [as local]``)
    as ``local -> (m, name)``."""
    trees = {_dotted(root, p): ast.parse(p.read_text()) for p in paths}
    aliases, stars, names = {}, {}, {}
    for path in paths:
        mod = _dotted(root, path)
        package = mod.split(".")
        if path.stem != "__init__":
            package.pop()
        aliases[mod], stars[mod], names[mod] = {}, [], {}
        for node in ast.walk(trees[mod]):
            if isinstance(node, ast.Import):
                aliases[mod].update((a.asname, a.name) for a in node.names
                                    if a.asname)
            elif isinstance(node, ast.ImportFrom):
                parts = package[:len(package) + 1 - node.level] \
                    if node.level else []
                if node.module:
                    parts = parts + node.module.split(".")
                base = ".".join(parts)
                for a in node.names:
                    if a.name == "*":
                        stars[mod].append(base)
                    elif f"{base}.{a.name}" in trees:
                        aliases[mod][a.asname or a.name] = f"{base}.{a.name}"
                    else:
                        names[mod][a.asname or a.name] = (base, a.name)
    return trees, aliases, stars, names


def _seen(mod, aliases, stars, trees, done=()):
    """(alias map, star-imported modules) visible in ``mod``."""
    amap, mods = dict(aliases[mod]), list(stars[mod])
    for s in stars[mod]:
        if s in trees and s not in done:
            a, m = _seen(s, aliases, stars, trees, (*done, mod))
            amap, mods = {**a, **amap}, mods + m
    return amap, mods


def uncalled_functions(root: pathlib.Path = _PKG.parent) -> list[str]:
    """Public top-level functions and upper-case constants of the
    package that no product module uses, as
    ``<path in the package>:<name>``. A use of
    ``name`` from module ``m`` is ``<alias>.name`` where the alias
    names ``m`` (``from <pkg> import m [as alias]``, ``import m as
    alias``, also when star-imported from the module that binds it);
    ``from m import name``; a bare ``name`` in ``m`` outside the
    statement that defines it, or in a module that does
    ``from m import *``; or an ``@register`` decorator on the function
    (the query registry calls what it registers)."""
    paths = _product_modules(root)
    trees, aliases, stars, names = _imports(root, paths)
    used = {v for m in names.values() for v in m.values()}
    for mod, tree in trees.items():
        amap, mods = _seen(mod, aliases, stars, trees)
        for n in ast.walk(tree):
            if (isinstance(n, ast.Attribute) and isinstance(n.value, ast.Name)
                    and n.value.id in amap):
                used.add((amap[n.value.id], n.attr))
            elif isinstance(n, ast.Name):
                used.update((m, n.id) for m in mods)
    out = []
    for path in paths:
        if path.relative_to(root).parts[0] != _PKG.name:
            continue
        mod = _dotted(root, path)
        public = _public(trees[mod])
        for top in trees[mod].body:
            used.update((mod, n.id) for n in ast.walk(top)
                        if isinstance(n, ast.Name)
                        and public.get(n.id) is not top)
        for name, fn in public.items():
            if isinstance(fn, ast.FunctionDef) and any(
                    isinstance(d, ast.Call) and isinstance(d.func, ast.Name)
                    and d.func.id == "register"
                    for d in fn.decorator_list):
                used.add((mod, name))
        rel = path.relative_to(root / _PKG.name).as_posix()
        out += [f"{rel}:{name}" for name in sorted(public)
                if (mod, name) not in used]
    return out


def test_package_functions_have_product_callers():
    """Every public function and upper-case constant of the package is
    used by product code."""
    assert uncalled_functions() == []


def test_caller_lint_catches_a_planted_copy(tmp_path):
    pkg = tmp_path / _PKG.name
    for d in ("sources", "tests", "plans", "streaming"):
        (pkg / d).mkdir(parents=True)
    (tmp_path / "scripts").mkdir()
    (pkg / "sources" / "tableformat.py").write_text(
        "def read(root):\n    return scan(root)\n"
        "def scan(root):\n    return scan(root)\n"
        "def history(root):\n    return history(root)\n"
        "def _private(root):\n    pass\n")
    (pkg / "sources" / "docstore.py").write_text(
        "TABLES = ('a',)\nLIMIT: int = 5\nMAX_ROWS = CAP = 10\n"
        "_PRIVATE = 1\nlower = 2\n"
        "def open_store(root):\n    return TABLES\n"
        "def key_predicate(col):\n    pass\n"
        "def upsert(a, b):\n    pass\n"
        "def write_bucketed(t):\n    pass\n")
    (pkg / "sources" / "sink.py").write_text(
        "from . import tableformat as tf\n"
        "from .docstore import key_predicate, LIMIT\n"
        "rows = tf.read('t')\n"
        "write_bucketed = 1\n"
        "x.upsert(1, 2)\n")
    (tmp_path / "scripts" / "probe.py").write_text(
        "from document_parsing_etl_pipeline_spark.sources import docstore\n"
        "docstore.open_store('r')\n")
    (pkg / "tests" / "test_store.py").write_text(
        "from ..sources import docstore\ndocstore.upsert(1, 2)\n")
    # plans/: a star-imported prelude whose names, and whose module
    # aliases, a section module uses; queries registered by decorator
    (pkg / "plans" / "_prelude.py").write_text(
        "from ..streaming import events as ev\n"
        "def register(name):\n    return lambda fn: fn\n"
        "def helper():\n    pass\n"
        "def unused_helper():\n    pass\n")
    (pkg / "plans" / "section.py").write_text(
        "from ._prelude import *\n"
        "@register('q')\n"
        "def q_one(spark):\n    return helper() or ev.window(spark)\n"
        "def q_unregistered(spark):\n    pass\n")
    (pkg / "streaming" / "events.py").write_text(
        "def window(spark):\n    pass\n"
        "def sessionize(spark):\n    pass\n")
    assert uncalled_functions(tmp_path) == [
        "plans/_prelude.py:unused_helper",
        "plans/section.py:q_unregistered",
        "sources/docstore.py:CAP", "sources/docstore.py:MAX_ROWS",
        "sources/docstore.py:upsert", "sources/docstore.py:write_bucketed",
        "sources/tableformat.py:history",
        "streaming/events.py:sessionize"]


# ------------------------------------------------- options have a setter

def _defaults(fn: ast.FunctionDef) -> list[tuple[int | None, str]]:
    """``fn``'s parameters with a default, as (position, name); a
    keyword-only parameter has no position."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    return [(i, p.arg) for i, p in enumerate(pos) if i >= first] + [
        (None, p.arg) for p, d in zip(a.kwonlyargs, a.kw_defaults)
        if d is not None]


def unset_options(root: pathlib.Path = _PKG.parent) -> list[str]:
    """Parameters with a default, of the package's functions and
    methods (nested ones too), that no call sets, as
    ``<path in the package>:<qualified name>:<parameter>``. Calls are
    read from the product modules and ``tests/``. A call sets a
    parameter when it passes it by keyword or by position, or passes
    ``*args`` / ``**kwargs`` (which set every parameter);
    ``functools.partial(f, ...)`` sets what it binds of ``f``. A call
    resolves through the aliases and imports ``uncalled_functions``
    reads (a class resolves to its ``__init__``); a call that does not
    resolve (a method call, a local name) sets the parameters of every
    package function or method of that name."""
    paths = _product_modules(root) + sorted((root / "tests").rglob("*.py"))
    trees, aliases, stars, names = _imports(root, paths)
    top, by_name, offset, where = {}, {}, {}, []

    def collect(node, mod, rel, prefix, in_class):
        for n in ast.iter_child_nodes(node):
            if isinstance(n, ast.ClassDef):
                collect(n, mod, rel, f"{prefix}{n.name}.", True)
                init = [m for m in n.body if isinstance(m, ast.FunctionDef)
                        and m.name == "__init__"]
                if init:
                    by_name.setdefault(n.name, []).append(init[0])
                    if not prefix:
                        top[(mod, n.name)] = init[0]
            elif isinstance(n, ast.FunctionDef):
                offset[n] = int(in_class and not any(
                    isinstance(d, ast.Name) and d.id == "staticmethod"
                    for d in n.decorator_list))
                by_name.setdefault(n.name, []).append(n)
                if not prefix:
                    top[(mod, n.name)] = n
                where.append((rel, prefix + n.name, n))
                collect(n, mod, rel, f"{prefix}{n.name}.", False)
            else:
                collect(n, mod, rel, prefix, in_class)

    for path in paths:
        if path.relative_to(root).parts[0] == _PKG.name:
            mod = _dotted(root, path)
            rel = path.relative_to(root / _PKG.name).as_posix()
            collect(trees[mod], mod, rel, "", False)

    def targets(mod, func, amap, mods):
        if isinstance(func, ast.Name):
            keys = [names[mod].get(func.id), (mod, func.id),
                    *((m, func.id) for m in mods)]
        elif isinstance(func, ast.Attribute):
            value = func.value.id if isinstance(func.value, ast.Name) else None
            keys = [(amap[value], func.attr)] if value in amap else []
        else:
            return []
        key = next((k for k in keys if k in top), None)
        if key:
            return [top[key]]
        return by_name.get(func.id if isinstance(func, ast.Name)
                           else func.attr, [])

    set_ = set()
    for mod, tree in trees.items():
        amap, mods = _seen(mod, aliases, stars, trees)
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            func, args = call.func, call.args
            if (getattr(func, "id", None) or getattr(func, "attr", None)) \
                    == "partial" and args:
                func, args = args[0], args[1:]
            kw = {k.arg for k in call.keywords}
            star = None in kw or any(isinstance(a, ast.Starred) for a in args)
            for fn in targets(mod, func, amap, mods):
                set_.update((fn, name) for i, name in _defaults(fn)
                            if star or name in kw or (
                                i is not None and i < len(args) + offset[fn]))
    return [f"{rel}:{qual}:{name}" for rel, qual, fn in where
            for _, name in _defaults(fn) if (fn, name) not in set_]


def test_package_options_are_set_by_a_caller():
    """Every parameter with a default of the package's functions and
    methods is set by some call: an option no call sets is a
    constant."""
    assert unset_options() == []


def test_option_lint_catches_each_spelling(tmp_path):
    pkg = tmp_path / _PKG.name
    pkg.mkdir()
    (tmp_path / "scripts").mkdir()
    (tmp_path / "tests").mkdir()
    (pkg / "ops.py").write_text(
        "def kw(df, a=1, b=2):\n    pass\n"
        "def pos(df, a=1, b=2):\n    pass\n"
        "def star(df, a=1, b=2):\n    pass\n"
        "def dstar(df, *, a=1):\n    pass\n"
        "def part(df, a=1, b=2):\n    pass\n"
        "def inner(df, n=64, m=3):\n    pass\n"
        "def wrapper(df, n=64):\n    return inner(df, n=n)\n"
        "class Store:\n"
        "    def __init__(self, root, cache=True):\n        pass\n"
        "    def read(self, key, limit=10):\n        pass\n"
        "    def write(self, key, mode='a'):\n        pass\n"
        "def outer(df):\n"
        "    def one(x, k=3):\n        pass\n"
        "    return one(df)\n")
    (tmp_path / "scripts" / "probe.py").write_text(
        "import functools\n"
        "from document_parsing_etl_pipeline_spark import ops as o\n"
        "from document_parsing_etl_pipeline_spark.ops import pos, Store\n"
        "o.kw(df, b=3)\n"
        "pos(df, 5)\n"
        "o.star(df, *args)\n"
        "o.dstar(df, **opts)\n"
        "f = functools.partial(o.part, b=4)\n"
        "o.wrapper(df)\n"
        "Store('r', cache=False).read('k', 5)\n")
    (tmp_path / "tests" / "test_ops.py").write_text(
        "from document_parsing_etl_pipeline_spark import ops\n"
        "ops.kw(None, a=2)\n")
    assert unset_options(tmp_path) == [
        "ops.py:pos:b", "ops.py:part:a", "ops.py:inner:m",
        "ops.py:wrapper:n", "ops.py:Store.write:mode",
        "ops.py:outer.one:k"]


# ------------------------------------------------- exhaustive tier names

def test_exhaustive_tier_names_are_tests():
    """Every name in conftest's _EXHAUSTIVE is a test function under
    tests/: a name left behind by a deleted or renamed test would skip
    nothing and hide that the tier lost a test."""
    from conftest import _EXHAUSTIVE

    tests = pathlib.Path(__file__).resolve().parent
    defined = {n.name for p in tests.rglob("test_*.py")
               for n in ast.walk(ast.parse(p.read_text()))
               if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
               and n.name.startswith("test_")}
    assert sorted(_EXHAUSTIVE - defined) == []
