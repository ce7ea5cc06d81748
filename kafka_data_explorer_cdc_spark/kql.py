"""KQL front end: compile the reference's query dialect to DataFrames.

The reference's entire user-facing query surface is Kusto Query Language
(``/root/reference/README.md:363-390``: ``summarize ... by ...``,
``sort by``, plus the psql top-k sanity query). This module lets a
reference user run those queries verbatim against this engine: a small
recursive-descent parser compiles a KQL subset straight to DataFrame
operations, so everything still plans through Catalyst (pushdown,
broadcast, whole-stage codegen) — there is no interpretation at run
time and no custom Catalyst rule.

Supported (the reference's surface plus the obvious neighbors):

    T | where <expr>
      | summarize [hint.shufflekey = col ...] [hint.strategy = shuffle]
          [name =] agg(col), ... [by col | name = expr, ...]
        (Kusto's shuffle-strategy hints: pre-shuffle the input on the
        hinted key(s) — legal because hash-partitioning on a SUBSET of
        the group keys satisfies the aggregate's clustering
        requirement, so Catalyst inserts no second Exchange; the
        deliberate high-cardinality trade of map-side combine for one
        well-keyed shuffle)
      | sort by col [asc|desc], ...        (KQL default: DESCENDING)
      | order by ...                       (alias of sort)
      | top N by expr [asc|desc] [nulls first|last]   (any scalar
        expression, Kusto default: DESCENDING)
      | top-nested N of col by [name =] agg() [, top-nested ...]
        (hierarchical top-k; ties break on the key ascending)
      | top-hitters N of col [by valcol]   (exact heavy-hitters)
      | take N  /  limit N
      | project col [= expr], ...
      | project-away col, ...  /  project-rename new = old, ...
      | project-keep col, ...  /  project-reorder col, ...
      | sample N  /  sample-distinct N of col   (deterministic
        pseudo-random — hash-ordered; Kusto promises no determinism,
        this engine promises replay-stable samples)
      | parse [kind=simple|regex] Source with 'lit' Name 'lit' ...
        (one anchored regex, non-greedy captures; kind=regex treats
        the fragments as raw regex — capturing groups rejected there)
      | parse-where ...   (as parse, but non-matching rows are dropped)
      | extend name = expr, ...
      | serialize [name = expr, ...]   (requires a prior sort; enables
        row_number()/prev()/next()/row_cumsum() — also legal directly
        after sort/top, whose output is serialized as in Kusto)
      | as Name   (bind the pipeline state for later join/union stages)
      | make-series n = agg() [default = lit] [, n2 = agg2() ...] on ts
          from 'ts' to 'ts' step 1h [by col, ...]   (dense per-group
          value arrays over uniform bins, gap-filled; JVM-only grid;
          multiple columns share ONE per-bin rollup, defaults bind
          per column)
      | mv-expand [with_itemindex = idx] [name =] arraycol
          [to typeof(T)] [limit N]   (posexplode when indexed; element
        cast; per-RECORD expansion cap compiled to a pre-explode slice)
      | distinct col, ...  /  distinct *
      | count   (column named `Count`, as in Kusto)
      | join [kind=K] [hint.strategy = broadcast|shuffle]
          ( Sub | ... ) on k [, ...]   (Kusto innerunique default;
        $left.a == $right.b key form; right-side name clashes get a
        '1' suffix; hint.strategy=broadcast pins a BroadcastHashJoin
        on the sub-pipeline side, =shuffle pins shuffle-hash —
        advisory exactly as in Kusto, Catalyst keeps final say)
      | lookup [kind=leftouter|inner] Dim on k   (broadcast dim join)
      | mv-apply x = arr [to typeof(T)] on ( where ... | summarize ... )
        (per-record array sub-pipeline; compiled to higher-order
        filter/fold — zero explode, zero shuffle for the summarize form)
      | union T2 [, ( Sub | ... ), ...]   (align by name, null-fill)
      | search 'term'   (case-insensitive scan of every string column)
      | getschema   (column metadata, no scan)
      | parse-kv Expr as (k1: t1, ...) with (pair_delimiter = '; ',
          kv_delimiter = '=')   (ONE str_to_map + a typed probe per
        declared key; literal delimiters mean themselves)
      | facet by c1, c2, ...   (one count-by-value rollup per column,
        rendered unioned behind a `facet_column` discriminator — the
        fork-render adaptation of Kusto's multi-table output)
      | evaluate pivot(col [, agg(val)])
      | evaluate basket([threshold])   (frequent attribute itemsets,
        size <= 2, exact counts; one masked-explode + one groupBy)
      | evaluate ipv4_lookup(Dim, ipCol, cidrCol [, return_unmatched
          = true])   (IP-to-network lookup: bounded candidate fan per
        DISTINCT prefix length + ONE broadcast equi-join — never a
        range join; all containing networks match)
      | evaluate dcount_intersect(h1, h2 [, h3])   (sketch
        intersections by inclusion-exclusion over per-row hll unions)
      | evaluate funnel_sequence_completion(id, ts, bin, state,
          ('s1', ...), (1h, 1d, ...))   (per period × step ×
        comparison window completion counts; µs-exact windows)
      | evaluate bag_unpack(dynCol)   (one bounded key-discovery job,
        then codegen get_json_object probes per key; string-typed
        leaves, lexical key order, collision = explicit error)
      | evaluate python(typeof(...), 'script')   (inline-Python
        plugin: one Arrow mapInPandas boundary, script execs once per
        partition over `df`, output read from `result` against the
        declared typeof schema — Kusto's per-shard sandbox contract)
      | evaluate narrow()   (unpivot every column to Row/Column/Value
        string triples; Row = 0-based serialized index, so a prior
        'sort by' is required in a distributed engine)
      | extend y = series_fir(x, dynamic([...]) [, normalize [,
        center]])   (FIR filter over a make-series array; the last
        coefficient applies to the current sample, zero-padded edges)
      | extend (b, s, t, r) = series_decompose(x, period)   (STL-lite:
        clamped centered-moving-average trend, per-phase seasonal,
        residual; period is a positive literal — tuple-destructuring
        extend binds the four output arrays)
      | extend s = series_seasonal(x, period)   (standalone seasonal
        component: per-phase MEDIAN of the raw series — Kusto's
        contract, distinct from series_decompose's detrended means)
      | extend ok = geo_point_in_polygon(lon, lat, dynamic([[x,y],..]))
        (planar even-odd crossing test against a compile-time ring
        literal; + indexof_regex / bitset_count_ones / strcmp /
        unicode_codepoints_from_string / _to_string scalars)
      | extend d = series_dot_product(a, b)   (+ series_magnitude /
        series_cosine_similarity / series_pearson_correlation, and the
        element-wise series_add/subtract/multiply/divide/greater/abs/
        sign/floor/ceiling/exp/log/sqrt/pow family; range/repeat
        dynamic constructors)
      | extend f = series_decompose_forecast(x, period, points)
        (decomposition-based forecast: model fit on the series minus
        the last `points` bins, OLS-extrapolated trend + phase means
        over the full grid)
      | extend (rsq, sl, v, rv, ic, fit) = series_fit_line(x)   (per-
        series OLS; population moments, rsquare = 1 on flat series)
      | extend (rsq, k, v, rv, fit) = series_fit_2lines(x)   (best
        two-piece fit by total SSE; split sweep over [2, n-2], ties
        keep the smallest split, n < 4 falls back with split_idx = -1)
      | evaluate sliding_window_counts(...) / activity_engagement(...)
        / activity_counts_metrics(...) / new_activity_metrics(...)
        / session_count(...) / active_users_count(...)
        / rolling_percentile(...)   (the
        activity/rolling plugin family — explicit-range, dense
        timelines; see each _compile_* for the pinned contract)
      | extend v = arr[i]   (computed 0-based index into an array
        column — element_at; literal indexes also probe dynamic JSON)
      | where x > toscalar( Sub | ... )   (scalar subquery: compiled,
        evaluated once — must yield exactly one row, one column — and
        substituted as a typed literal)
      | extend a = extract_all('regex', col)   (all matches as a
        dynamic array; one capture group returns the captures)
      | extend b = bin_at(x, size, fixedPoint)   (binning grid
        anchored to fixedPoint; duration or numeric size)
      | summarize p = percentiles_array(col, p1, p2, ...)   (multi-
        percentile as ONE dynamic array; one shared per-group sort)
      | fork [name =] ( ops ) [name =] ( ops ) ...   (must be last;
        the pre-fork pipeline is persisted ONCE and shared by every
        branch. kql() renders the branches as one table — unionByName
        with null-fill behind a leading `fork_` discriminator column;
        kql_fork() returns the Kusto-faithful {branch: DataFrame} dict)
      | make-graph Src --> Dst   (directed graph from two id columns;
        other pipeline columns become edge PROPERTIES, reachable
        through named graph-match edges)
      | graph-match (a)-[e]->(b)-[]->(c) [where <expr>] project n = x,
        w = e.prop, ...   (named edges bind property structs)
      | graph-shortest-paths (s)-[*1..K]->(d) [where] project ..., hops
        (level-synchronous BFS — K-1 frontier joins, each level
        anti-joined against reached pairs)
      | graph-mark-components [kind=weak] [with_component_id=Name]
        (weak connected components over the made graph; emits the NODE
        table (node, <Name>) with component = min reachable node id —
        distributed min-label propagation, operators/graph.py)
        (vertex-chain pattern → chained hash equi-joins via motif_find;
        repeated variables close cycles; vertex vars bind to ids)
      | render charttype [with (...)]   (must be last; presentation hint)

    print / range / datatable tabular sources (range generates on
    executors via spark.range — a parallel source, not a literal).

    externaldata (name: type, ...) ['path', ...] with (format='parquet'
    |'csv'|'json' [, header=true])   (external-file source on
    spark.read; declared schema authoritative — no inference job)

    find [in (T1, T2, ...)] where <pred>   (cross-table search source:
    union of matching rows aligned by name, `source_` column names the
    table; tables lacking a referenced column contribute no rows).

    let name = <scalar literal> ;  /  let name = T | ... ;   (named
    constants and tabular CTEs, visible to the query and join subqueries)

    let f = (T:(*)) { T | ... } ;  then  T | invoke f()   (tabular
    lambda: compile-time substitution — plans exactly as if inlined)

    let name = materialize(T | ...) ;   (cache hint: the bound pipeline
    is compiled once and persisted, so N references = N InMemoryTable
    scans of one computation, not N recomputes — Kusto's semantics)

Expressions: arithmetic (+ - * / %), comparisons (== != < <= > >=),
``and``/``or``/``not``, ``contains``/``startswith``/``endswith``/
``has``/``has_any``/``in``/``matches regex``, ``between (lo .. hi)``,
string / numeric / duration
(``1h``, ``30m``) literals, ``bin(expr, size)`` time/numeric bucketing,
``ago(duration)`` (anchorable for deterministic replay), and
``parse_json(col).field`` dynamic access (compiles to a single
``get_json_object`` probe), ``iff``/``case``/``strcat``/
``strcat_array``/``extract``/``substring``/``coalesce``/``isnull``/
``isempty``/``isnotnull``/``isnotempty``/``isnan``/``isfinite``, ``hash(v[, mod])``/``tohex``, ``array_index_of``/``array_slice``/``array_reverse``/``array_sort_asc|desc``, ``max_of``/``min_of``, ``base64_encode_tostring``/``base64_decode_tostring``, ``url_encode_component``/``url_decode``, ``trim``/``trim_start``/``trim_end`` (regex), ``strcat_delim``, ``translate`` (Kusto arg order), and ``datetime_add`` (calendar units) scalars; the dynamic-bag family ``bag_pack`` (typed struct for literal keys, string map for computed keys) / ``bag_keys`` / ``bag_merge`` (first wins) / ``bag_remove_keys``; datetime formatting ``format_datetime`` / ``format_timespan`` (numeric-seconds timespan carrier) / ``totimespan`` / ``make_datetime`` / ``week_of_year`` / ``dayofweek`` (days since Sunday); serialized ranks ``row_rank_dense`` / ``row_rank_min`` / ``row_window_session`` (staged window compiles; the session recursion is one Arrow pass — see _compile_row_rank). Aggregates: ``count()``, ``sum``/``avg``/``min``/
``max``/``dcount``, ``hll``/``hll_merge`` (mergeable Datasketches HLL
at rest; scalar ``dcount_hll()`` estimates), ``countif(pred)``,
``sumif(col, pred)``,
``arg_max``/``arg_min`` (max_by/min_by — one mergeable struct-max, no
window), ``make_list``/``make_set`` (set form sorted for determinism),
``percentile(col, P)`` (exact; swap percentile_approx at scale),
``percentilew(col, w, P)`` (exact nearest-rank weighted percentile —
one sorted collect + one fold), ``take_any``/``take_anyif``
(deterministic min where Kusto promises arbitrary), ``make_bag``
(deterministic first-wins bag union), ``binary_all_or/and/xor``.

KQL semantics preserved deliberately:
- ``sort by`` defaults to DESC (README.md:373-378 — SURVEY.md §7
  flags this as an oracle-mismatch trap).
- ``dcount`` compiles to exact ``count(distinct …)``; Kusto's is
  approximate, but the correctness gate needs exactness. At 100 TB
  scale swap in ``approx_count_distinct`` per call site.
- ``has`` (term match) compiles to a word-boundary regexp, which is
  the closest Spark-native equivalent of Kusto's term index probe.
"""

from __future__ import annotations

import contextvars
import math
import re
import weakref
from dataclasses import dataclass
from functools import reduce as _reduce

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# Σ aᵢ·bᵢ as one zip_with + one fold; length equality is the caller's guard
from .operators.similarity import _dot

#: STRING-LITERAL VALUE SEMANTICS — read before consuming a ``str``
#: token. The pattern accepts ``\.`` pairs so a quoted literal can
#: CONTAIN quotes, but the compiler deliberately forks on what those
#: pairs MEAN:
#:
#: - **every ordinary consumer uses the raw source slice**
#:   (``t.text[1:-1]``): ``\n`` is backslash-then-n, exactly like
#:   Kusto's verbatim ``@"..."`` strings. This is load-bearing for
#:   the regex operators (``matches regex``, ``extract``, ``parse``)
#:   where ``\d`` / ``\b`` must reach the regex engine untouched, and
#:   it is uniform across all 37 raw-slice sites so a literal means
#:   the same thing in ``where``, ``extend``, ``split`` etc.;
#: - **only the python() plugin folds escapes**
#:   (:func:`_unescape_string_literal`) because its literal is a
#:   PROGRAM handed to ``compile()``, where a raw ``\n`` pair turns a
#:   multi-line script into a SyntaxError.
#:
#: Consequence: ``"\n"`` is two characters in a filter but one
#: newline inside a python() script. Pinned by
#: ``tests/test_kql.py::test_string_literal_escape_semantics_fork``;
#: widening escape folding beyond python() is a semantics change that
#: must revisit every raw-slice site (grep ``text[1:-1]``).
_TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<dur>\d+(?:ms|[smhd])\b)
      | (?P<num>\d+\.\d+|\d+)
      | (?P<str>'(?:[^'\\]|\\.)*'|"(?:[^"\\]|\\.)*")
      | (?P<op><=|>=|!=|==|=~|!~|\.\.|[|=+\-*/%(),<>.:;\[\]])
      | (?P<word>[A-Za-z_][A-Za-z0-9_.]*)
    )""",
    re.VERBOSE,
)

_AGGS = {
    "count": lambda c: F.count("*") if c is None else F.count(c),
    "sum": lambda c: F.sum(c),
    "avg": lambda c: F.avg(c),
    "min": lambda c: F.min(c),
    "max": lambda c: F.max(c),
    "dcount": lambda c: F.countDistinct(c),
    # sample forms, matching Kusto (stdev == stdevs, variance sample-based)
    "stdev": lambda c: F.stddev_samp(c),
    "variance": lambda c: F.var_samp(c),
    # Kusto's HLL sketch algebra on Spark's Datasketches built-ins:
    # hll() produces the mergeable binary sketch, hll_merge() unions
    # sketches at rest (the b41 pattern), scalar dcount_hll() estimates
    "hll": lambda c: F.hll_sketch_agg(c),
    "hll_merge": lambda c: F.hll_union_agg(c),
    # make_bag(bag) — group-wise dynamic-bag union (deterministic
    # first-wins in ascending JSON order; see _make_bag_agg)
    "make_bag": lambda c: _make_bag_agg(c),
    # take_any(col) — Kusto promises an ARBITRARY value; a distributed
    # differential-tested engine promises a deterministic one instead:
    # the minimum (null only when every value is null). Same mergeable
    # single-pass shape as any min.
    "take_any": lambda c: F.min(c),
    # binary_all_or / _and / _xor — bitwise aggregate folds on longs
    # (Spark's bit_* aggregates: mergeable, map-side combined)
    "binary_all_or": lambda c: F.bit_or(c),
    "binary_all_and": lambda c: F.bit_and(c),
    "binary_all_xor": lambda c: F.bit_xor(c),
}


def _series_fill_forward(c: Column) -> Column:
    """``series_fill_forward(arr)`` — replace each null with the
    nearest PRECEDING non-null (leading nulls stay null, Kusto's
    contract). One JVM fold building the filled array — O(n) per row,
    no explode, composes with every other series function."""
    return F.aggregate(
        c,
        F.expr("cast(array() as array<double>)"),
        lambda acc, x: F.concat(
            acc,
            F.array(
                F.coalesce(
                    x.cast("double"),
                    F.when(F.size(acc) > 0, F.element_at(acc, F.size(acc))),
                )
            ),
        ),
    )


def _series_fill_linear(c: Column) -> Column:
    """``series_fill_linear(arr)`` — interior nulls linearly
    interpolated between the surrounding non-nulls; leading/trailing
    nulls take the nearest non-null (Kusto's edge rule). Pure JVM
    higher-order functions over index arrays: the non-null index list
    is computed once, each element's bracketing indices by two
    filtered lookups — O(n²) array ops per ROW on the (short)
    make-series grid, zero shuffles, zero Python."""
    n = F.size(c)

    def val(i):
        idxs = F.sequence(F.lit(0), n - F.lit(1))
        nn = F.filter(idxs, lambda j: F.get(c, j).isNotNull())
        prevs = F.filter(nn, lambda j: j <= i)
        nexts = F.filter(nn, lambda j: j >= i)
        ip = F.when(F.size(prevs) > 0, F.element_at(prevs, -1))
        iq = F.when(F.size(nexts) > 0, F.element_at(nexts, 1))
        vp = F.get(c, ip).cast("double")
        vq = F.get(c, iq).cast("double")
        x = F.get(c, i).cast("double")
        return (
            F.when(x.isNotNull(), x)
            .when(ip.isNull(), vq)
            .when(iq.isNull(), vp)
            .otherwise(
                vp
                + (vq - vp)
                * (i.cast("double") - ip.cast("double"))
                / (iq.cast("double") - ip.cast("double"))
            )
        )

    return F.when(
        n > 0, F.transform(F.sequence(F.lit(0), n - F.lit(1)), val)
    ).otherwise(F.expr("cast(array() as array<double>)"))


def _series_outliers(c: Column) -> Column:
    """``series_outliers(arr)`` — per-element anomaly scores for a
    make-series array, this engine's deterministic Tukey-fence
    definition (Kusto's is tied to its internal percentile sketch, so
    an exact pin is impossible; the SHAPE — 0 inside the fence, signed
    scaled distance outside — matches): with q10/q50/q90 the linearly
    interpolated percentiles of the non-null elements, score = 0 for
    x within [q10, q90], else (x - q50) / (q90 - q10); null elements
    score null, and a degenerate fence (q90 == q10) scores 0
    everywhere. Pure JVM array expressions — sort + fold + transform,
    no explode, no Python (:func:`_series_outliers_sql`)."""
    return _sql_function(
        "kql_series_outliers",
        "arr ARRAY<DOUBLE>",
        _series_outliers_sql("arr"),
        c,
    )


def _series_fir(
    arr: Column, taps: list[float], normalize: bool, center: bool
) -> Column:
    """``series_fir(x, dynamic([...]) [, normalize [, center]])`` —
    Kusto's finite-impulse-response filter over a make-series array
    (moving averages, difference filters, smoothing kernels). Pinned
    semantics, matching Kusto's documented behavior: the LAST
    coefficient applies to the current sample —
    ``y[i] = Σ_j f[j] · x[i - (K-1) + j + shift]`` with
    ``shift = (K-1)//2`` when ``center`` — out-of-range samples count
    as 0 (which yields Kusto's tapered edges), and ``normalize``
    divides by Σf (an error when Σf = 0). One JVM ``transform`` with a
    flat per-tap sum — series are observability-sized arrays, no
    explode, no Python."""
    k = len(taps)
    shift = (k - 1) // 2 if center else 0
    denom = float(sum(taps))
    if normalize and denom == 0.0:
        raise ValueError(
            "KQL: series_fir(..., normalize=true) needs a nonzero "
            "coefficient sum"
        )

    def one(_e: Column, i: Column) -> Column:
        acc = None
        for j, f in enumerate(taps):
            idx = i + F.lit(j - (k - 1) + shift)
            v = F.coalesce(
                F.get(arr, idx).cast("double"), F.lit(0.0)
            ) * F.lit(float(f))
            acc = v if acc is None else acc + v
        return acc / F.lit(denom) if normalize else acc

    return F.transform(arr, one)


def _series_iir(arr: Column, b: list[float], a: list[float]) -> Column:
    """``series_iir(x, dynamic([b...]), dynamic([a...]))`` — Kusto's
    infinite-impulse-response filter over a make-series array
    (exponential smoothing, cumulative sums, leaky integrators — the
    FEEDBACK complement of series_fir). Pinned semantics, matching
    Kusto's documented recurrence with zero initial state:

        y[i] = (Σ_j b[j]·x[i−j]  −  Σ_{j≥1} a[j]·y[i−j]) / a[0]

    out-of-range history counts as 0. One JVM ``aggregate`` fold over
    the element indices carrying the OUTPUT-so-far array — the
    recurrence is evaluated at RUNTIME per element (HOF lambdas are
    interpreted iteratively, not unrolled), so the expression tree
    stays O(taps) whatever the series length; series are
    observability-sized arrays, no explode, no Python, no shuffle."""
    if not a or float(a[0]) == 0.0:
        raise ValueError(
            "KQL: series_iir denominator must start with a nonzero a[0]"
        )

    def step(ys: Column, i: Column) -> Column:
        num = None
        for j, bj in enumerate(b):
            v = (
                F.coalesce(F.get(arr, i - F.lit(j)).cast("double"), F.lit(0.0))
                if j == 0
                else F.when(
                    i >= F.lit(j),
                    F.coalesce(
                        F.get(arr, i - F.lit(j)).cast("double"), F.lit(0.0)
                    ),
                ).otherwise(F.lit(0.0))
            ) * F.lit(float(bj))
            num = v if num is None else num + v
        for j, aj in enumerate(a[1:], start=1):
            w = F.when(
                i >= F.lit(j), F.coalesce(F.get(ys, i - F.lit(j)), F.lit(0.0))
            ).otherwise(F.lit(0.0)) * F.lit(float(aj))
            num = num - w
        return F.concat(ys, F.array(num / F.lit(float(a[0]))))

    empty = F.array().cast("array<double>")
    idx = F.sequence(F.lit(0), F.size(arr) - 1)
    # guard the empty-series edge: sequence(0, -1) would DESCEND
    return F.when(
        F.size(arr) > 0, F.aggregate(idx, empty, step)
    ).otherwise(empty)


def _sql_let(val: str, var: str, body: str) -> str:
    """Expression-level let-binding in SQL text: bind ``val`` to the
    lambda variable ``var`` so ``body`` can reference it many times
    without repeating (and re-evaluating) its text — a field access
    over a repeated fold would otherwise copy the whole fold per
    reference (the analyzer/codegen blow-up k74 once measured at
    190 s, sf0.001). ``transform(array(v), ...)[0]`` costs one
    1-element array wrap at runtime and keeps the tree linear."""
    return f"get(transform(array({val}), {var} -> {body}), 0)"


_KQL_SESSION = contextvars.ContextVar("kql_session", default=None)

#: The temporary SQL functions :func:`_sql_function` created, per
#: session: a name is created once, with no catalog probe per call.
_SESSION_FUNCTIONS: weakref.WeakKeyDictionary[SparkSession, set[str]] = (
    weakref.WeakKeyDictionary()
)


def _sql_function(name: str, params: str, body: str, *args: Column) -> Column:
    """Call ``body`` — SQL text over the parameter names declared in
    ``params`` — as the temporary SQL function ``name`` of the session
    compiling the query (the one :func:`kql` binds, else the active
    one), creating it there on first use: temporary functions are
    session-scoped. Literal arguments that shape the text belong in
    ``name``.

    Why text: the series and geohash kernels are big repetitive
    expression trees, and building them Column-by-Column costs one
    py4j round trip per node (k106's geohash pair measured 11,412
    calls, ~4.8 s of builder time); the text is assembled in Python
    and parsed once per session. Spark inlines the call, binding each
    argument to an attribute in a Project under the body, so any
    argument Column works — including ones built from lambdas. Spark
    accepts such a call in projections, filters, aggregates, windows
    and joins; a sort key or generator input must be projected
    first."""
    spark = _KQL_SESSION.get() or SparkSession.getActiveSession()
    created = _SESSION_FUNCTIONS.setdefault(spark, set())
    if name not in created:
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({params})"
            f" RETURN {body}"
        )
        created.add(name)
    return F.call_function(name, *args)


def _series_decompose_forecast(
    arr: Column, period: int, points: int
) -> Column:
    """``series_decompose_forecast(x, period, points)`` — Kusto's
    decomposition-based forecaster, pinned contract: the model is fit
    on the series MINUS its last ``points`` elements (the horizon
    make-series fills with defaults): this engine's STL-lite
    :func:`_series_decompose` over the train slice, the trend
    component extrapolated by the series_fit_line OLS (0-based x),
    and forecast[i] = line(i) + seasonal_phase(i mod period) for EVERY
    index — the model baseline re-expressed on the fitted line over
    the train region, extended across the horizon. (Kusto's own
    forecaster is this same shape with a fancier trender; the pinned
    linear trend is what the differential oracle replays exactly.)

    All JVM folds/transforms over the make-series array — no explode,
    no shuffle, no Python; composes into the one-rollup make-series
    plan at any corpus size."""
    n = "size(arr)"
    dec = _series_decompose_sql(f"slice(arr, 1, {n} - {points})", period)
    forecast = (
        f"transform(sequence(0, {n} - 1), _xi -> _xl.interception"
        f" + _xl.slope * CAST(_xi AS DOUBLE)"
        f" + element_at(_xd.seasonal, CAST(pmod(_xi, {period}) AS INT) + 1))"
    )
    fit = _ols_fold_sql(
        "_xd.trend", _sql_let(_ols_line_sql("_oaX"), "_xl", forecast), "X"
    )
    return _sql_function(
        f"kql_series_decompose_forecast_{period}_{points}",
        "arr ARRAY<DOUBLE>",
        _sql_let(dec, "_xd", fit),
        arr,
    )


_D0D = "CAST(0.0 AS DOUBLE)"
_D1D = "CAST(1.0 AS DOUBLE)"


def _ols_fold_sql(ys: str, finish: str, tag: str) -> str:
    """One sequential fold over a (slice of a) series collecting the
    OLS sufficient statistics against the LOCAL 0-based x axis —
    struct(m, sy, sxy, syy), with ``m`` the current x index when
    element x arrives — then ``finish``, a SQL string over the
    accumulator variable ``_oa{tag}`` (cheap references, no tree
    copies); tags keep nested folds' lambda variables distinct. A
    null element poisons the fold (documented: gap-fill with
    series_fill_* first), the shape of Kusto's error-on-null without a
    per-element branch."""
    a, e = f"_oa{tag}", f"_oe{tag}"
    x = f"CAST({e} AS DOUBLE)"
    return (
        f"aggregate({ys}, named_struct("
        f"'m', {_D0D}, 'sy', {_D0D}, 'sxy', {_D0D}, 'syy', {_D0D}), "
        f"({a}, {e}) -> named_struct("
        f"'m', {a}.m + {_D1D}, "
        f"'sy', {a}.sy + {x}, "
        f"'sxy', {a}.sxy + {a}.m * {x}, "
        f"'syy', {a}.syy + {x} * {x}), "
        f"{a} -> {finish})"
    )


def _ols_sse_sql(acc: str) -> str:
    """Residual sum of squares of the best-fit line from an
    :func:`_ols_fold_sql` accumulator, closed form: with S1 = Σx,
    S2 = Σx² over local x = 0..m−1, SSE = Syy_c − Sxy_c²/Sxx_c
    (centered moments). A degenerate segment (m < 2) contributes 0.
    The repeated subtrees are deduped at runtime by Catalyst's
    subexpression elimination."""
    m = f"{acc}.m"
    s1 = f"(({m} - 1) * {m} / 2)"
    s2 = f"(({m} - 1) * {m} * (2 * {m} - 1) / 6)"
    sxx = f"({s2} - {s1} * {s1} / {m})"
    sxy_c = f"({acc}.sxy - {s1} * {acc}.sy / {m})"
    syy_c = f"({acc}.syy - {acc}.sy * {acc}.sy / {m})"
    return (
        f"CASE WHEN {m} >= 2 AND {sxx} > 0 "
        f"THEN {syy_c} - {sxy_c} * {sxy_c} / {sxx} "
        f"ELSE {_D0D} END"
    )


def _ols_line_sql(acc: str) -> str:
    """struct(slope, interception) of the best-fit line from an
    :func:`_ols_fold_sql` accumulator; a segment too short to
    determine a slope pins slope = 0 and interception = mean (the flat
    answer)."""
    m = f"{acc}.m"
    s1 = f"(({m} - 1) * {m} / 2)"
    s2 = f"(({m} - 1) * {m} * (2 * {m} - 1) / 6)"
    denom = f"({m} * {s2} - {s1} * {s1})"
    slope = (
        f"CASE WHEN {m} >= 2 AND {denom} > 0 "
        f"THEN ({m} * {acc}.sxy - {s1} * {acc}.sy) / {denom} "
        f"ELSE {_D0D} END"
    )
    icpt = (
        f"CASE WHEN {m} > 0 THEN ({acc}.sy - ({slope}) * {s1}) / {m} "
        f"ELSE {_D0D} END"
    )
    return f"named_struct('slope', {slope}, 'interception', {icpt})"


def _series_fit_line_sql(arr: str) -> str:
    """SQL text of :func:`_series_fit_line`: one OLS fold whose finish
    let-binds the (line, variance, rvariance) core; an empty series
    yields the all-null struct."""
    acc = "_oaF"
    core = (
        f"named_struct("
        f"'line', {_ols_line_sql(acc)}, "
        f"'variance', {acc}.syy / {acc}.m"
        f" - ({acc}.sy / {acc}.m) * ({acc}.sy / {acc}.m), "
        f"'rvariance', ({_ols_sse_sql(acc)}) / {acc}.m)"
    )
    out = (
        f"named_struct("
        f"'rsquare', CASE WHEN _fs.variance > 0"
        f" THEN {_D1D} - _fs.rvariance / _fs.variance ELSE {_D1D} END, "
        f"'slope', _fs.line.slope, "
        f"'variance', _fs.variance, "
        f"'rvariance', _fs.rvariance, "
        f"'interception', _fs.line.interception, "
        f"'line_fit', transform(sequence(0, size({arr}) - 1), "
        f"_fi -> _fs.line.interception"
        f" + _fs.line.slope * CAST(_fi AS DOUBLE)))"
    )
    fold = _ols_fold_sql(arr, _sql_let(core, "_fs", out), "F")
    nulls = (
        "named_struct('rsquare', CAST(NULL AS DOUBLE), "
        "'slope', CAST(NULL AS DOUBLE), 'variance', CAST(NULL AS DOUBLE), "
        "'rvariance', CAST(NULL AS DOUBLE), "
        "'interception', CAST(NULL AS DOUBLE), "
        "'line_fit', CAST(NULL AS ARRAY<DOUBLE>))"
    )
    return f"CASE WHEN size({arr}) > 0 THEN {fold} ELSE {nulls} END"


def _series_fit_2lines_sql(arr: str) -> str:
    """SQL text of :func:`_series_fit_2lines`: the candidate split
    sweep (two OLS folds per split), the best-split fold, the per-side
    line fits let-bound, and the n < 4 single-line fallback."""
    nn = f"size({arr})"
    ks = (
        f"CASE WHEN {nn} >= 4 THEN sequence(2, {nn} - 2) "
        f"ELSE CAST(array() AS ARRAY<INT>) END"
    )
    sse_l = _ols_fold_sql(f"slice({arr}, 1, _ck)", _ols_sse_sql("_oaL"), "L")
    sse_r = _ols_fold_sql(
        f"slice({arr}, _ck + 1, {nn} - _ck)", _ols_sse_sql("_oaR"), "R"
    )
    cand = (
        f"transform({ks}, _ck -> named_struct("
        f"'k', CAST(_ck AS BIGINT), 'sse', ({sse_l}) + ({sse_r})))"
    )
    best = (
        f"aggregate({cand}, named_struct("
        f"'k', CAST(-1 AS BIGINT), 'sse', CAST('Infinity' AS DOUBLE)), "
        f"(_ba, _bc) -> CASE WHEN _bc.sse < _ba.sse THEN _bc ELSE _ba END)"
    )
    bki = "CAST(_wb.k AS INT)"
    params = (
        f"named_struct("
        f"'l', {_ols_fold_sql(f'slice({arr}, 1, {bki})', _ols_line_sql('_oaPL'), 'PL')}, "
        f"'r', {_ols_fold_sql(f'slice({arr}, {bki} + 1, {nn} - {bki})', _ols_line_sql('_oaPR'), 'PR')}, "
        f"'v', {_ols_fold_sql(arr, '_oaPV.syy / _oaPV.m - (_oaPV.sy / _oaPV.m) * (_oaPV.sy / _oaPV.m)', 'PV')}, "
        f"'rv', _wb.sse / CAST({nn} AS DOUBLE))"
    )
    line_fit = (
        f"transform(sequence(0, {nn} - 1), _fi2 -> "
        f"CASE WHEN CAST(_fi2 AS BIGINT) < _wb.k "
        f"THEN _ps.l.interception + _ps.l.slope * CAST(_fi2 AS DOUBLE) "
        f"ELSE _ps.r.interception + _ps.r.slope"
        f" * (CAST(_fi2 AS DOUBLE) - CAST(_wb.k AS DOUBLE)) END)"
    )
    out = (
        f"named_struct("
        f"'rsquare', CASE WHEN _ps.v > 0"
        f" THEN {_D1D} - _ps.rv / _ps.v ELSE {_D1D} END, "
        f"'split_idx', _wb.k, "
        f"'variance', _ps.v, "
        f"'rvariance', _ps.rv, "
        f"'line_fit', {line_fit})"
    )
    main = _sql_let(best, "_wb", _sql_let(params, "_ps", out))
    fb = (
        "named_struct('rsquare', _fl.rsquare, "
        "'split_idx', CAST(-1 AS BIGINT), 'variance', _fl.variance, "
        "'rvariance', _fl.rvariance, 'line_fit', _fl.line_fit)"
    )
    fallback = _sql_let(_series_fit_line_sql(arr), "_fl", fb)
    return f"CASE WHEN {nn} >= 4 THEN {main} ELSE {fallback} END"


def _series_fit_line(arr: Column) -> Column:
    """``series_fit_line(x)`` — Kusto's linear-regression scalar over a
    make-series array. Output struct binds positionally in Kusto's
    documented order: (rsquare, slope, variance, rvariance,
    interception, line_fit). Pinned definitions: x axis is the 0-based
    element index; variance / rvariance are POPULATION moments (÷n,
    Kusto's spelling); rsquare = 1 − rvariance/variance, defined as 1
    when the series is flat (variance 0 ⇒ the line IS the series);
    an empty series yields all-null.

    One sequential JVM fold collects (n, Σy, Σxy, Σy²); every output
    is closed-form arithmetic computed in the fold's finish lambda
    (tree-linear — see :func:`_sql_let`) — no explode, no shuffle, no
    Python, so it composes into the make-series plan shape (one rollup
    shuffle total) at any corpus size (:func:`_series_fit_line_sql`)."""
    return _sql_function(
        "kql_series_fit_line",
        "arr ARRAY<DOUBLE>",
        _series_fit_line_sql("arr"),
        arr,
    )


def _series_fit_2lines(arr: Column) -> Column:
    """``series_fit_2lines(x)`` — Kusto's segmented (two-piece) linear
    regression: try every split point, fit an independent line to each
    side, keep the split minimizing total residual sum of squares.
    Output struct binds positionally as (rsquare, split_idx, variance,
    rvariance, line_fit) — Kusto's documented head columns (the
    per-side parameter tail is reconstructable from line_fit and is
    omitted: a pinned, testable subset).

    Pinned contract: both sides need ≥ 2 points, so split_idx (the
    first index of the RIGHT segment) ranges over [2, n−2]; ties keep
    the smallest split; a series too short to split (n < 4) returns
    split_idx = −1 with the single-line fit (series_fit_line's
    answer). Population moments and the flat-series rsquare = 1 rule
    as in :func:`_series_fit_line`.

    Scale shape: the candidate sweep is ONE ``transform`` over the
    bounded split range whose per-element work is two sequential folds
    over array slices — O(n²) arithmetic on an observability-sized
    array (make-series bin counts), all JVM expression evaluation (the
    :func:`_sql_let` binding keeps the analyzed tree linear): no
    explode, no shuffle, no Python (:func:`_series_fit_2lines_sql`)."""
    return _sql_function(
        "kql_series_fit_2lines",
        "arr ARRAY<DOUBLE>",
        _series_fit_2lines_sql("arr"),
        arr,
    )


def _parse_ipv4(c: Column) -> Column:
    """``parse_ipv4(s)`` — dotted-quad string to its numeric value
    (long); null on malformed input (wrong shape or an octet > 255),
    Kusto's error-as-null scalar convention. Pure codegen: one regex
    probe + one 4-element fold, no UDF."""
    ok = c.rlike(r"^\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}$")
    parts = F.transform(F.split(c, r"\."), lambda x: x.cast("long"))
    valid = ok & ~F.exists(parts, lambda x: x > 255)
    return F.when(
        valid,
        F.aggregate(
            parts, F.lit(0).cast("long"), lambda a, x: a * 256 + x
        ),
    )


def _format_ipv4(c: Column) -> Column:
    """``format_ipv4(n)`` — numeric IPv4 back to the dotted-quad
    string (inverse of :func:`_parse_ipv4` on the 32-bit range)."""
    n = c.cast("long")
    return F.concat_ws(
        ".",
        (F.shiftright(n, 24) % 256).cast("string"),
        (F.shiftright(n, 16) % 256).cast("string"),
        (F.shiftright(n, 8) % 256).cast("string"),
        (n % 256).cast("string"),
    )


def _ipv4_is_private(c: Column) -> Column:
    """``ipv4_is_private(s)`` — RFC 1918 membership (10/8, 172.16/12,
    192.168/16); null on malformed input."""
    n = _parse_ipv4(c)
    o1 = F.shiftright(n, 24) % 256
    o2 = F.shiftright(n, 16) % 256
    return F.when(
        n.isNotNull(),
        (o1 == 10)
        | ((o1 == 172) & (o2 >= 16) & (o2 <= 31))
        | ((o1 == 192) & (o2 == 168)),
    )


def _ipv4_is_in_range(ip: Column, rng: Column) -> Column:
    """``ipv4_is_in_range(ip, range)`` — CIDR membership; the range is
    'a.b.c.d/p' (or a bare address = /32). The prefix compare divides
    by 2^(32-p) instead of shifting because Spark's shiftright needs a
    literal bit count — exact in doubles through 2^52. Null on
    malformed input on either side."""
    net = _parse_ipv4(F.substring_index(rng, "/", 1))
    suf = F.when(
        rng.contains("/"),
        F.substring_index(rng, "/", -1).cast("int"),
    ).otherwise(F.lit(32))
    ipn = _parse_ipv4(ip)
    div = F.pow(F.lit(2.0), (F.lit(32) - suf).cast("double"))
    return F.when(
        ipn.isNotNull()
        & net.isNotNull()
        & suf.isNotNull()
        & (suf >= 0)
        & (suf <= 32),
        F.floor(ipn / div) == F.floor(net / div),
    )


def _end_of(start: Column, **interval) -> Column:
    """Period start + one calendar interval − 1 µs (the endof* family's
    shared tail)."""
    z = F.lit(0)
    base = dict(
        years=z, months=z, weeks=z, days=z, hours=z, mins=z, secs=F.lit(0.0)
    )
    base.update({k: F.lit(v) for k, v in interval.items()})
    return F.timestamp_micros(
        F.unix_micros(start + F.make_interval(**base)) - 1
    )


def _series_dot_product(a: Column, b: Column) -> Column:
    """``series_dot_product(a, b)`` — null on length mismatch (the
    array_iff convention; Kusto errors)."""
    return F.when(F.size(a) == F.size(b), _dot(a, b))


def _series_magnitude(a: Column) -> Column:
    """``series_magnitude(a)`` — the L2 norm, √(a·a)."""
    return F.sqrt(_dot(a, a))


def _series_cosine(a: Column, b: Column) -> Column:
    """``series_cosine_similarity(a, b)`` — dot/(‖a‖·‖b‖); null on
    length mismatch or a zero-magnitude side."""
    den = _series_magnitude(a) * _series_magnitude(b)
    return F.when(
        (F.size(a) == F.size(b)) & (den > 0), _dot(a, b) / den
    )


def _series_pearson(a: Column, b: Column) -> Column:
    """``series_pearson_correlation(a, b)`` — the closed form
    (n·Σxy − Σx·Σy) / (√(n·Σx²−(Σx)²)·√(n·Σy²−(Σy)²)) from five
    folds; null on length mismatch or a constant side (zero
    denominator). Integer-count series keep every sum exact in
    doubles, which is what the differential oracle relies on."""
    n = F.size(a).cast("double")
    asum = lambda c: F.aggregate(  # noqa: E731
        c, F.lit(0.0), lambda acc, v: acc + v.cast("double")
    )
    sx, sy = asum(a), asum(b)
    sxx, syy = _dot(a, a), _dot(b, b)
    sxy = _dot(a, b)
    num = n * sxy - sx * sy
    den = F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    return F.when((F.size(a) == F.size(b)) & (den > 0), num / den)


def _series_elementwise(op):
    """Element-wise series arithmetic — one zip_with; null on length
    mismatch (the array_iff convention)."""

    def fn(a: Column, b: Column) -> Column:
        return F.when(F.size(a) == F.size(b), F.zip_with(a, b, op))

    return fn


def _series_map(op):
    """Unary element-wise series function — one transform."""

    def fn(a: Column) -> Column:
        return F.transform(a, lambda x: op(x.cast("double")))

    return fn


def _kusto_datetime_format(fmt: str) -> str:
    """Translate a Kusto format_datetime pattern to the JVM
    DateTimeFormatter pattern date_format expects. The calendar letters
    (y M d H h m s) mean the same thing in both dialects and pass
    through; Kusto's ``f`` (fractional seconds) maps to ``S``, ``tt``
    (AM/PM) to ``a``. Only the documented Kusto tokens and separators
    are accepted — anything else is a compile error, never silently a
    different date."""
    out, i = [], 0
    while i < len(fmt):
        ch = fmt[i]
        j = i
        while j < len(fmt) and fmt[j] == ch:
            j += 1
        run = j - i
        if ch in "yMdHhms":
            out.append(ch * run)
        elif ch == "f" or ch == "F":
            out.append("S" * run)
        elif ch == "t":
            if run < 2:
                raise ValueError(
                    "KQL: format_datetime AM/PM designator is 'tt'"
                )
            out.append("a")
        elif ch in " /-:,._[]":
            out.append(ch * run)
        else:
            raise ValueError(
                f"KQL: unsupported format_datetime token {ch!r}"
            )
        i = j
    return "".join(out)


def _format_timespan(secs: Column, fmt: str) -> Column:
    """``format_timespan(x, fmt)`` over this engine's numeric-seconds
    timespan carrier. Supported tokens: ``d`` (unpadded day count,
    ``dd``+ zero-padded), ``h/hh``, ``m/mm``, ``s/ss``, ``f``-runs
    (fractional second digits), plus separators. Pure per-row
    arithmetic + lpad/concat — codegen, no UDF."""
    x = secs.cast("double")
    total = F.floor(x).cast("long")
    pieces: list[Column] = []
    i = 0
    while i < len(fmt):
        ch = fmt[i]
        j = i
        while j < len(fmt) and fmt[j] == ch:
            j += 1
        run = j - i
        if ch == "d":
            days = F.floor(x / 86400).cast("long")
            pieces.append(
                F.lpad(days.cast("string"), run, "0")
                if run > 1
                else days.cast("string")
            )
        elif ch == "h":
            v = F.pmod(F.floor(x / 3600).cast("long"), F.lit(24))
            pieces.append(F.lpad(v.cast("string"), max(run, 1), "0"))
        elif ch == "m":
            v = F.pmod(F.floor(x / 60).cast("long"), F.lit(60))
            pieces.append(F.lpad(v.cast("string"), max(run, 1), "0"))
        elif ch == "s":
            v = F.pmod(total, F.lit(60))
            pieces.append(F.lpad(v.cast("string"), max(run, 1), "0"))
        elif ch in "fF":
            frac = F.floor((x - total) * F.lit(10**run)).cast("long")
            pieces.append(F.lpad(frac.cast("string"), run, "0"))
        elif ch in " /-:,._[]":
            pieces.append(F.lit(ch * run))
        else:
            raise ValueError(
                f"KQL: unsupported format_timespan token {ch!r}"
            )
        i = j
    return F.concat(*pieces)


_TIMESPAN_RE = re.compile(
    r"^(?:(\d+)\.)?(\d{1,2}):(\d{2})(?::(\d{2})(?:\.(\d+))?)?$"
)


def _timespan_literal_seconds(text: str) -> float:
    """``totimespan('[d.]hh:mm[:ss[.fff]]')`` — Kusto's timespan
    literal, as this engine's numeric-seconds carrier."""
    m = _TIMESPAN_RE.match(text)
    if not m:
        raise ValueError(
            f"KQL: totimespan() expects '[d.]hh:mm[:ss[.f]]', got {text!r}"
        )
    d, h, mi, s, frac = m.groups()
    out = (int(d or 0) * 86400 + int(h) * 3600 + int(mi) * 60
           + int(s or 0))
    if frac:
        out += int(frac) / (10 ** len(frac))
    return float(out)


def _compile_ipv4_lookup(df, dim, src_col, net_col, ret_unmatched):
    """``evaluate ipv4_lookup(Dim, srcIpCol, cidrCol [,
    return_unmatched = true])`` — Kusto's IP-to-network lookup plugin.
    Every dim row whose CIDR contains the source IP matches (all
    matches returned, Kusto's contract; return_unmatched adds
    unmatched probe rows with null dim columns).

    The scalable shape — never a range/theta join: the dim's CIDRs
    reduce to (prefix_len, masked_net) pairs; the DISTINCT prefix
    lengths present (≤ 33, collected driver-side — bounded by
    construction) parameterize a per-row candidate array on the probe
    side (ip masked at each length), so the lookup is ONE explode of
    ≤ 33 elements + ONE broadcast equi-join on (prefix_len,
    masked_net). At 100 TB the fact side streams through codegen; the
    fan is bounded by the dim's prefix diversity, not its row count."""
    net = F.col(net_col)
    sfx = (
        F.when(
            net.contains("/"), F.split(net, "/").getItem(1).cast("int")
        ).otherwise(F.lit(32))
    )
    base = F.when(
        net.contains("/"), F.split(net, "/").getItem(0)
    ).otherwise(net)
    netn = _parse_ipv4(base)
    d = (
        dim.withColumn("__plen", sfx)
        .withColumn(
            "__masked",
            F.floor(
                netn / F.pow(F.lit(2.0), (F.lit(32) - sfx).cast("double"))
            ).cast("long"),
        )
    )
    plens = sorted(
        r["__plen"] for r in d.select("__plen").distinct().collect()
    )
    if not plens:
        raise ValueError("KQL: ipv4_lookup dim table has no networks")
    ipn = _parse_ipv4(F.col(src_col))
    cands = F.array(
        *[
            F.struct(
                F.lit(pl).cast("int").alias("p"),
                F.floor(ipn / F.lit(float(2 ** (32 - pl))))
                .cast("long")
                .alias("m"),
            )
            for pl in plens
        ]
    )
    probe = df.withColumn("__c", F.explode(cands))
    probe = probe.withColumn("__plen", F.col("__c.p").cast("int")).withColumn(
        "__masked", F.col("__c.m")
    ).drop("__c")
    # right-side name clashes get a '1' suffix, as in join
    clashes = [c for c in d.columns if c in df.columns]
    for c in clashes:
        d = d.withColumnRenamed(c, c + "1")
    out = probe.join(F.broadcast(d), ["__plen", "__masked"], "inner").drop(
        "__plen", "__masked"
    )
    if ret_unmatched:
        # unmatched = probe rows with NO candidate hit at any prefix
        # length: an all-columns LEFT ANTI against the matched probe
        # identities (a left join over the explode would instead emit
        # one null row per MISSED candidate, fanning matched rows too)
        un = df.join(
            out.select(*df.columns).distinct(), list(df.columns),
            "left_anti",
        )
        out = out.unionByName(un, allowMissingColumns=True)
    return out


def _compile_row_rank(df, p, name, ser):
    """Staged compile of Kusto's serialized rank/session trio —
    ``row_rank_dense(Term [, restart])``, ``row_rank_min(Term [,
    restart])`` and ``row_window_session(Expr, MaxDistanceFromFirst,
    MaxDistanceBetweenValues [, restart])``.

    The ranks need a change-indicator column and then a cumulative
    window over it; Spark forbids nesting one window function inside
    another in a single expression, so the compile stages named
    intermediate columns (the k74 staging rule) and drops them. The
    rank contract (Kusto's): row_rank_dense increments by one whenever
    Term differs from the previous row; row_rank_min is the row number
    of the first row of the current run of equal Terms; a true
    ``restart`` row resets ranking to 1. SCALE NOTE: serialized
    operators run on one task in Kusto and here alike — use after a
    row-bounding stage."""
    fn = p.next().text.lower()
    if ser is None:
        raise ValueError(
            f"KQL: {fn}() requires serialized input — precede it "
            f"with 'sort by' (or 'top')"
        )
    p.expect("(")
    term = p.expr()
    if fn == "row_window_session":
        spans = []
        for _ in range(2):
            p.expect(",")
            t = p.next()
            if t.kind == "dur":
                spans.append(p._duration_seconds(t.text))
            elif t.kind == "num":
                spans.append(float(t.text))
            elif t.kind == "str":
                spans.append(_timespan_literal_seconds(t.text[1:-1]))
            else:
                raise ValueError(
                    "KQL: row_window_session() distances must be "
                    "timespan or numeric-seconds literals"
                )
        restart = p.expr() if p.accept(",") else None
        p.expect(")")
        return _row_window_session(
            df, ser, name, term, spans[0], spans[1], restart
        )
    restart = p.expr() if p.accept(",") else None
    p.expect(")")
    w0 = Window.orderBy(*ser)
    seg = (
        F.sum(F.when(restart, 1).otherwise(0))
        .over(w0.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        if restart is not None
        else F.lit(0)
    )
    df = df.withColumn("__kql_rr_seg", seg)
    w = Window.partitionBy("__kql_rr_seg").orderBy(*ser)
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    chg = (
        F.when(F.row_number().over(w) == 1, F.lit(1))
        .when(~term.eqNullSafe(F.lag(term).over(w)), F.lit(1))
        .otherwise(F.lit(0))
    )
    df = df.withColumn("__kql_rr_chg", chg)
    if fn == "row_rank_dense":
        df = df.withColumn(
            name, F.sum("__kql_rr_chg").over(cum).cast("long")
        )
    else:  # row_rank_min: the run-start's row number
        df = df.withColumn("__kql_rr_rn", F.row_number().over(w))
        df = df.withColumn(
            name,
            F.max(
                F.when(F.col("__kql_rr_chg") == 1, F.col("__kql_rr_rn"))
            )
            .over(cum)
            .cast("long"),
        ).drop("__kql_rr_rn")
    return df.drop("__kql_rr_seg", "__kql_rr_chg")


def _row_window_session(df, ser, name, term, max_first, max_gap, restart):
    """``row_window_session`` — sessions restart when the value's
    distance from the session FIRST exceeds ``max_first``, the gap
    from the PREVIOUS value exceeds ``max_gap``, or ``restart`` is
    true; returns the session's first value (Kusto's contract). The
    session start depends on itself (a genuine sequential recursion no
    window algebra expresses), so this is the one serialized function
    compiled to an Arrow automaton: ONE mapInPandas pass over the
    sorted rows — the same shape as the k54/k72 sequence kernels.
    Serialized input is a single task by contract, so coalesce(1)
    costs nothing extra."""
    from pyspark.sql.types import StructField, TimestampType

    w0 = Window.orderBy(*ser)
    df = df.withColumn("__kql_ws_rn", F.row_number().over(w0))
    df = df.withColumn("__kql_ws_ts", term.cast("timestamp"))
    df = df.withColumn(
        "__kql_ws_rs", restart if restart is not None else F.lit(False)
    )
    tmp = ("__kql_ws_rn", "__kql_ws_ts", "__kql_ws_rs")
    base = [f for f in df.schema.fields if f.name not in tmp]
    out_names = [f.name for f in base if f.name != name] + [name]
    out_schema = type(df.schema)(
        [f for f in base if f.name != name]
        + [StructField(name, TimestampType())]
    )

    def gen(frames):
        import pandas as pd

        batches = list(frames)
        if not batches:
            return
        pdf = pd.concat(batches, ignore_index=True)
        if len(pdf) == 0:
            return
        pdf = pdf.sort_values("__kql_ws_rn", kind="mergesort")
        ts = pd.to_datetime(pdf["__kql_ws_ts"])
        rs = pdf["__kql_ws_rs"].fillna(False).astype(bool)
        starts, cur, prev = [], None, None
        for v, r in zip(ts, rs):
            if pd.isna(v):
                starts.append(pd.NaT)
                continue
            if (
                cur is None
                or r
                or (v - prev).total_seconds() > max_gap
                or (v - cur).total_seconds() > max_first
            ):
                cur = v
            starts.append(cur)
            prev = v
        pdf = pdf.drop(columns=list(tmp))
        pdf[name] = starts
        yield pdf[out_names]

    return df.coalesce(1).mapInPandas(gen, out_schema)


_BAG_MAP = "map<string,string>"


def _bag_map(c: Column) -> Column:
    """A dynamic bag (JSON string) as a ``map<string,string>`` for the
    key-algebra functions. The FLAT-BAG contract: top-level values are
    handled as their string forms (nested objects survive as their raw
    JSON text — Spark's from_json keeps unparsed nesting verbatim), so
    merge/remove are pure key algebra and never reinterpret values.
    Null / malformed bags become the empty bag (Kusto treats null bags
    as empty in bag_merge)."""
    return F.coalesce(
        F.from_json(c, _BAG_MAP), F.expr(f"cast(map() as {_BAG_MAP})")
    )


def _bag_merge(*bags: Column) -> Column:
    """``bag_merge(b1, b2, ...)`` — left-to-right union of dynamic
    bags; on key collision the FIRST bag's value wins (Kusto's
    documented rule). Pure JVM map algebra per row: each later bag is
    filtered to the keys the accumulator lacks, then map_concat'd —
    collision-free by construction, so Spark's EXCEPTION dedup policy
    can never fire."""
    out = _bag_map(bags[0])
    for b in bags[1:]:
        out_keys = F.map_keys(out)
        out = F.map_concat(
            out,
            F.map_filter(
                _bag_map(b), lambda k, v: ~F.array_contains(out_keys, k)
            ),
        )
    return F.to_json(out)


def _bag_remove_keys(bag: Column, keys: Column) -> Column:
    """``bag_remove_keys(bag, keyArray)`` — the bag minus the listed
    top-level keys (Kusto: missing keys are ignored; nested paths are
    out of this subset). One map_filter, no explode."""
    return F.to_json(
        F.map_filter(
            _bag_map(bag), lambda k, v: ~F.array_contains(keys, k)
        )
    )


def _make_bag_agg(c: Column) -> Column:
    """``make_bag(bagCol)`` aggregate — merge the group's dynamic bags
    into one. Kusto leaves collision order arbitrary; a distributed
    engine must not, so this engine pins it: bags merge in ascending
    JSON-string order and the first merged value wins (replay-stable on
    any partitioning). One collect_list + one JVM fold per group — the
    bag count per group is the user's contract to keep bounded, same
    as make_list."""
    return F.aggregate(
        F.sort_array(F.collect_list(c)),
        F.expr(f"cast(map() as {_BAG_MAP})"),
        lambda acc, x: F.map_concat(
            acc,
            F.map_filter(
                F.from_json(x, _BAG_MAP),
                lambda k, v: ~F.array_contains(F.map_keys(acc), k),
            ),
        ),
        lambda acc: F.to_json(acc),
    )


def _parse_url(c: Column) -> Column:
    """``parse_url(url)`` — Kusto's URL decomposition, returned as a
    dynamic bag (JSON string, the series_stats_dynamic convention) with
    Kusto's documented keys: Scheme, Host, Port, Path, Username,
    Password, Query Parameters (itself a bag), Fragment. Wraps Spark's
    built-in ``try_parse_url`` (java.net.URI semantics, malformed →
    null — Kusto's error-as-null); Port comes from the AUTHORITY
    part, credentials from USERINFO. Composes with
    ``parse_json``/``bag_unpack`` downstream."""
    part = lambda p: F.try_parse_url(c, F.lit(p))  # noqa: E731
    userinfo = part("USERINFO")
    auth = part("AUTHORITY")
    port = F.regexp_extract(auth, r":(\d+)$", 1)
    return F.to_json(
        F.struct(
            part("PROTOCOL").alias("Scheme"),
            part("HOST").alias("Host"),
            port.alias("Port"),
            part("PATH").alias("Path"),
            F.substring_index(userinfo, ":", 1).alias("Username"),
            F.when(
                userinfo.contains(":"),
                F.substring_index(userinfo, ":", -1),
            )
            .otherwise(F.lit(""))
            .alias("Password"),
            F.str_to_map(part("QUERY"), F.lit("&"), F.lit("=")).alias(
                "Query Parameters"
            ),
            part("REF").alias("Fragment"),
        )
    )


def _array_rotate(a: Column, n: Column) -> Column:
    """``array_rotate_left(arr, n)`` — circular rotation; negative n
    rotates right (Kusto). pmod folds any n into [0, size)."""
    sz = F.size(a)
    r = F.pmod(n.cast("int"), sz)
    return F.when(
        sz > 0, F.concat(F.slice(a, r + 1, sz - r), F.slice(a, 1, r))
    ).otherwise(a)


def _array_shift(a: Column, n: Column) -> Column:
    """``array_shift_left(arr, n)`` — shift elements left by n (negative
    = right), vacated slots null (Kusto's default fill). One transform
    with the index lambda; out-of-range get() IS the null fill."""
    return F.transform(a, lambda x, i: F.get(a, i + n.cast("int")))


def _array_split(a: Column, i: Column) -> Column:
    """``array_split(arr, index)`` — split into [prefix, suffix] at the
    (non-negative, pinned) index; Kusto's multi-index form is not
    implemented (documented)."""
    sz = F.size(a)
    idx = F.greatest(F.lit(0), F.least(i.cast("int"), sz))
    return F.array(F.slice(a, 1, idx), F.slice(a, idx + 1, sz - idx))


def _array_iff(c: Column, t: Column, f: Column) -> Column:
    """``array_iff(cond, when_true, when_false)`` — element-wise
    ternary over three same-length arrays; a length mismatch yields
    null elements (out-of-range get), Kusto's rule."""
    return F.transform(
        c,
        lambda x, i: F.when(x, F.get(t, i)).otherwise(F.get(f, i)),
    )


def _geo_distance_2points(
    lon1: Column, lat1: Column, lon2: Column, lat2: Column
) -> Column:
    """``geo_distance_2points(lon1, lat1, lon2, lat2)`` — great-circle
    distance in meters, pinned to the HAVERSINE formula on a sphere of
    radius 6 371 000 m (Kusto computes a geodesic on WGS-84; haversine
    agrees within ~0.5% and is exactly replayable in any engine —
    documented divergence). Inputs in degrees (Kusto's argument order:
    longitudes first). Out-of-range coordinates (|lat| > 90,
    |lon| > 180) yield null, mirroring Kusto's error-as-null."""
    import math as _math

    to_rad = F.lit(_math.pi / 180.0)
    la1, la2 = lat1.cast("double") * to_rad, lat2.cast("double") * to_rad
    dla = (lat2.cast("double") - lat1.cast("double")) * to_rad / 2
    dlo = (lon2.cast("double") - lon1.cast("double")) * to_rad / 2
    a = F.sin(dla) * F.sin(dla) + F.cos(la1) * F.cos(la2) * F.sin(
        dlo
    ) * F.sin(dlo)
    ok = (
        (F.abs(lat1.cast("double")) <= 90)
        & (F.abs(lat2.cast("double")) <= 90)
        & (F.abs(lon1.cast("double")) <= 180)
        & (F.abs(lon2.cast("double")) <= 180)
    )
    return F.when(
        ok, F.lit(2.0 * 6371000.0) * F.asin(F.sqrt(a))
    )


_FORMAT_BYTES_UNITS = ("Bytes", "KB", "MB", "GB", "TB", "PB", "EB")


def _format_bytes(size: Column, precision: int = 0) -> Column:
    """``format_bytes(size [, precision])`` — human-readable byte
    count with auto-selected binary unit (largest unit with value
    >= 1), Kusto's admin-dashboard staple. Pinned contract: precision
    is an int LITERAL 0..6; rounding is integer (scaled HALF-UP — for
    the non-negative sizes this engine accepts, identical in Spark
    and DuckDB); trailing fraction zeros trim, a bare trailing dot
    drops; negative or null sizes yield null (Kusto's behavior for
    negatives is unspecified — null is the testable contract). Pure
    codegen string assembly, no UDF."""
    if not (0 <= precision <= 6):
        raise ValueError("KQL: format_bytes precision must be 0..6")
    s = size.cast("double")
    k = F.lit(0)
    for i in range(1, len(_FORMAT_BYTES_UNITS)):
        k = F.when(s >= F.lit(float(1024**i)), F.lit(i)).otherwise(k)
    units = F.array(*[F.lit(u) for u in _FORMAT_BYTES_UNITS])
    divisor = F.element_at(
        F.array(*[F.lit(float(1024**i)) for i in range(len(_FORMAT_BYTES_UNITS))]),
        k + 1,
    )
    p10 = 10**precision
    r = F.round(s / divisor * F.lit(float(p10)), 0).cast("long")
    intp = (r / F.lit(p10)).cast("long")
    if precision == 0:
        num = intp.cast("string")
    else:
        frac = F.regexp_replace(
            F.lpad((r % F.lit(p10)).cast("string"), precision, "0"),
            "0+$",
            "",
        )
        num = F.concat(
            intp.cast("string"),
            F.when(frac != "", F.concat(F.lit("."), frac)).otherwise(
                F.lit("")
            ),
        )
    return F.when(
        s >= 0, F.concat(num, F.lit(" "), F.element_at(units, k + 1))
    )


def _parse_version(v: Column) -> Column:
    """``parse_version(v)`` — a version string of 1..4 dot-separated
    numeric parts as ONE comparable DECIMAL(38,0): each part
    zero-padded to 8 digits (Kusto's documented encoding, e.g.
    '1.2.3.4' -> 1000000020000000300000004); missing parts are 0;
    any non-numeric part, >4 parts, or a part >= 1e8 yields null.
    Pure codegen: one split + four try-probes + decimal fold."""
    parts = F.split(v, "\\.")
    n = F.size(parts)
    ok = (n >= 1) & (n <= 4)
    vals = []
    for i in range(4):
        raw = F.when(n > i, F.element_at(parts, i + 1)).otherwise(F.lit("0"))
        ok = ok & raw.rlike("^[0-9]{1,8}$")
        vals.append(raw.cast("decimal(38,0)"))
    code = _reduce(
        lambda acc, p: acc * F.lit(100000000).cast("decimal(38,0)") + p,
        vals[1:],
        vals[0],
    )
    return F.when(ok, code)


_GEOHASH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"


_MORTON_SPREAD_STEPS = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)

_MORTON_COMPACT_STEPS = (
    (1, 0x3333333333333333),
    (2, 0x0F0F0F0F0F0F0F0F),
    (4, 0x00FF00FF00FF00FF),
    (8, 0x0000FFFF0000FFFF),
    (16, 0xFFFFFFFF),
)


def _morton_spread_sql(x: str, tag: str) -> str:
    """Part1By1: spread the low 32 bits of ``x`` to the even bit
    positions (the branchless Morton interleave). Each doubling step
    is let-bound so the expression tree stays LINEAR — the naive
    per-bit fold duplicated the quantizer subtree per bit and cost
    seconds of codegen (see :func:`_sql_let`)."""
    cur = f"({x} & 4294967295)"
    for i, (sh, m) in enumerate(_MORTON_SPREAD_STEPS):
        v = f"_s{tag}{i}"
        cur = (
            f"get(transform(array({cur}),"
            f" {v} -> (({v} | shiftleft({v}, {sh})) & {m})), 0)"
        )
    return cur


def _morton_compact_sql(x: str, tag: str) -> str:
    """Compact1By1: gather the even bit positions of ``x`` back into
    the low 32 bits (inverse of :func:`_morton_spread_sql`), let-bound
    per step."""
    cur = f"({x} & 6148914691236517205)"
    for i, (sh, m) in enumerate(_MORTON_COMPACT_STEPS):
        v = f"_c{tag}{i}"
        cur = (
            f"get(transform(array({cur}),"
            f" {v} -> (({v} | shiftright({v}, {sh})) & {m})), 0)"
        )
    return cur


def _geo_q_sql(x: str, off: str, span: str, bits: int) -> str:
    """The quantized cell coordinate of ``x`` at ``bits`` bits:
    floor((x + off) / span * 2^bits), written with this exact op order
    on both engines and clamped so the +180 / +90 edge falls in the
    last cell (the standard convention)."""
    idx = (
        f"CAST(floor((CAST({x} AS DOUBLE) + {off}) / {span}"
        f" * CAST({float(2 ** bits)} AS DOUBLE)) AS BIGINT)"
    )
    return f"least(greatest({idx}, 0), {2 ** bits - 1})"


def _geohash_alph_sql() -> str:
    return (
        "array(" + ", ".join(f"'{ch}'" for ch in _GEOHASH_ALPHABET) + ")"
    )


def _geohash_encode_sql(lon: str, lat: str, precision: int) -> str:
    """SQL text of the whole geohash encoder
    (:func:`_geo_point_to_geohash`): quantize → Morton interleave →
    base-32 render, null outside the coordinate ranges. MSB-first
    alternation starts with lon, so counting from the LSB lon owns the
    even positions iff the total bit count is odd: code =
    spread(lon_idx) | spread(lat_idx) << 1, parity flipped for even
    totals."""
    total = 5 * precision
    lon_bits = (total + 1) // 2
    lat_bits = total // 2
    lon_idx = _geo_q_sql(lon, "CAST(180.0 AS DOUBLE)", "CAST(360.0 AS DOUBLE)", lon_bits)
    lat_idx = _geo_q_sql(lat, "CAST(90.0 AS DOUBLE)", "CAST(180.0 AS DOUBLE)", lat_bits)
    if total % 2:
        code = (
            f"({_morton_spread_sql(lon_idx, 'a')}"
            f" | shiftleft({_morton_spread_sql(lat_idx, 'b')}, 1))"
        )
    else:
        code = (
            f"({_morton_spread_sql(lat_idx, 'a')}"
            f" | shiftleft({_morton_spread_sql(lon_idx, 'b')}, 1))"
        )
    alph = _geohash_alph_sql()
    chars = ", ".join(
        f"element_at({alph},"
        f" (CAST((shiftright(_g, {5 * (precision - 1 - i)}) & 31) AS INT)"
        f" + 1))"
        for i in range(precision)
    )
    render = f"get(transform(array({code}), _g -> concat({chars})), 0)"
    ok = (
        f"(abs(CAST({lat} AS DOUBLE)) <= 90)"
        f" AND (abs(CAST({lon} AS DOUBLE)) <= 180)"
    )
    return f"CASE WHEN {ok} THEN {render} END"


def _geohash_decode_sql(gh: str) -> str:
    """SQL text of the whole geohash decoder
    (:func:`_geo_geohash_to_central_point`): one literal branch per
    length 1..8; char i contributes bits total-5i-1 .. total-5(i+1)
    through ONE alphabet probe, ``nullif(array_position, 0) - 1`` —
    array_position returns 0 iff the char is unknown, which nulls the
    code and so the whole point (not a [null, null] pair); Morton
    compaction inverts the encoder's interleave."""
    alph = _geohash_alph_sql()
    out = "CAST(NULL AS ARRAY<DOUBLE>)"
    for p in range(1, 9):
        total = 5 * p
        lon_bits = (total + 1) // 2
        lat_bits = total // 2
        code = "CAST(0 AS BIGINT)"
        for i in range(p):
            v = (
                f"(nullif(array_position({alph},"
                f" substring({gh}, {i + 1}, 1)), 0) - 1)"
            )
            code = f"(({code} * 32) + {v})"
        if total % 2:
            lon_i = _morton_compact_sql("_g", f"p{p}x")
            lat_i = _morton_compact_sql("shiftright(_g, 1)", f"p{p}y")
        else:
            lat_i = _morton_compact_sql("_g", f"p{p}x")
            lon_i = _morton_compact_sql("shiftright(_g, 1)", f"p{p}y")
        lon_c = (
            f"(((CAST({lon_i} AS DOUBLE) + CAST(0.5 AS DOUBLE))"
            f" / CAST({float(2 ** lon_bits)} AS DOUBLE))"
            f" * CAST(360.0 AS DOUBLE) - CAST(180.0 AS DOUBLE))"
        )
        lat_c = (
            f"(((CAST({lat_i} AS DOUBLE) + CAST(0.5 AS DOUBLE))"
            f" / CAST({float(2 ** lat_bits)} AS DOUBLE))"
            f" * CAST(180.0 AS DOUBLE) - CAST(90.0 AS DOUBLE))"
        )
        dec = (
            f"get(transform(array({code}), _g -> CASE WHEN _g IS NOT NULL"
            f" THEN array({lon_c}, {lat_c}) END), 0)"
        )
        out = f"CASE WHEN length({gh}) = {p} THEN {dec} ELSE {out} END"
    return out


def _geo_point_to_geohash(lon: Column, lat: Column, precision: int) -> Column:
    """``geo_point_to_geohash(lon, lat, precision)`` — the standard
    base-32 geohash of a WGS-84 point (bit-interleaved quantized
    lon/lat, lon first, MSB first). The precision must be an int
    literal 1..8 (Kusto accepts 1..18; >8 needs >53 fp-exact bits and
    nobody rolls up at sub-meter cells — documented divergence).
    Out-of-range coordinates yield null (Kusto's error-as-null).
    All-JVM: one Morton spread per coordinate (~12 let-bound
    shift/mask ops) + p array probes per row — no Python anywhere.
    The let binding trades wholestage codegen for a LINEAR expression
    tree; the naive per-bit fold was 14x slower end-to-end (32.5 s ->
    4.9 s at sf0.1, mostly analyzer/codegen blow-up — measured,
    BASELINE.md round-11 session 5). See :func:`_geohash_encode_sql`."""
    if not (1 <= precision <= 8):
        raise ValueError(
            "KQL: geo_point_to_geohash precision must be 1..8"
        )
    return _sql_function(
        f"kql_geohash_encode_{precision}",
        "lon DOUBLE, lat DOUBLE",
        _geohash_encode_sql("lon", "lat", precision),
        lon,
        lat,
    )


def _geo_geohash_to_central_point(gh: Column) -> Column:
    """``geo_geohash_to_central_point(geohash)`` — the cell's center
    as a dynamic ``[lon, lat]`` array (pinned subset of Kusto's
    GeoJSON bag — the coordinates array, which is what every consumer
    reads). Supports lengths 1..8 via a literal branch per length;
    unknown characters or other lengths yield null. Center =
    ((idx + 0.5) / 2^bits) * span - offset, the exact inverse of the
    encoder's quantization (:func:`_geohash_decode_sql`)."""
    return _sql_function(
        "kql_geohash_decode", "gh STRING", _geohash_decode_sql("gh"), gh
    )


def _geo_point_in_polygon(
    lon: Column, lat: Column, ring: list[tuple[float, float]]
) -> Column:
    """``geo_point_in_polygon(lon, lat, dynamic([[lon,lat], ...]))`` —
    point-in-polygon membership, pinned subset of Kusto's function
    (reference surface: the ADX geospatial family): the polygon is a
    COMPILE-TIME ring literal (the GeoJSON coordinates ring — closed,
    first == last, no holes; the full GeoJSON object wrapper is not
    modeled), so the even-odd crossing-number test unrolls into one
    flat codegen expression — one comparison chain per edge, zero
    UDFs, zero shuffles.

    Semantics: even-odd rule on a ray cast in +longitude; works for
    convex AND non-convex rings. Out-of-range coordinates (|lat| > 90,
    |lon| > 180) yield null, matching the geohash family's contract.
    Boundary points follow the half-open crossing rule (deterministic,
    same arithmetic both engines); Kusto's spherical-edge model
    differs from this planar ring only near the antimeridian/poles —
    documented engine pin, exact under the differential because the
    oracle replays the identical planar test."""
    if len(ring) < 4 or ring[0] != ring[-1]:
        raise ValueError(
            "KQL: geo_point_in_polygon ring must be closed (first == "
            "last) with at least 3 distinct vertices"
        )
    x = lon.cast("double")
    y = lat.cast("double")
    crossings: Column = F.lit(0)
    for (x1, y1), (x2, y2) in zip(ring, ring[1:]):
        if y1 == y2:
            continue  # horizontal edge can never cross the +lon ray
        straddles = (F.lit(y1) > y) != (F.lit(y2) > y)
        # intersection of the edge with the horizontal line at y,
        # written exactly as the oracle writes it (same fp order)
        xi = (
            (y - F.lit(y1)) * F.lit((x2 - x1) / (y2 - y1)) + F.lit(x1)
        )
        crossings = crossings + F.when(straddles & (x < xi), 1).otherwise(0)
    ok = (F.abs(y) <= 90) & (F.abs(x) <= 180)
    return F.when(ok, crossings % 2 == 1)


_D = "CAST({} AS DOUBLE)"


def _series_mean_sql(w: str, tag: str) -> str:
    """sum/size mean over an array, the window let-bound so its
    expression is evaluated once per use."""
    return _sql_let(
        w,
        f"_w{tag}",
        f"(aggregate(_w{tag}, {_D.format('0.0')},"
        f" (_ac{tag}, _ax{tag}) -> _ac{tag} + _ax{tag})"
        f" / size(_w{tag}))",
    )


def _series_decompose_sql(arr: str, period: int) -> str:
    """SQL text of :func:`_series_decompose` with the shared
    subexpressions (the cast array, trend, detrended array, phase
    means, seasonal and baseline arrays) let-bound, so each is
    computed once per row."""
    h = period // 2
    a = f"transform({arr}, _e0 -> {_D.format('_e0')})"
    trend_win = (
        f"slice(_A, greatest(0, _i1 - {h}) + 1,"
        f" least(size(_A) - 1, _i1 + {h}) - greatest(0, _i1 - {h}) + 1)"
    )
    trend = (
        f"transform(sequence(0, size(_A) - 1),"
        f" _i1 -> {_series_mean_sql(trend_win, 't')})"
    )
    detr = "zip_with(_A, _T, (_x2, _t2) -> _x2 - _t2)"
    # empty-phase guard: the hoisted phase-mean array is eager, so an
    # empty phase (ANSI 0.0/0 would throw) is an explicit null —
    # unobserved, since a position's own phase is never empty
    pms = ", ".join(
        _sql_let(
            f"filter(_D0, (_x3{ph}, _i3{ph}) -> _i3{ph} % {period} = {ph})",
            f"_wp{ph}",
            f"CASE WHEN size(_wp{ph}) = 0 THEN CAST(NULL AS DOUBLE)"
            f" ELSE aggregate(_wp{ph}, {_D.format('0.0')},"
            f" (_acp{ph}, _axp{ph}) -> _acp{ph} + _axp{ph})"
            f" / size(_wp{ph}) END",
        )
        for ph in range(period)
    )
    # phase means hoisted into one per-row array probed by i % period,
    # computed once per row rather than once per element
    seasonal = (
        f"transform(sequence(0, size(_A) - 1),"
        f" _i4 -> element_at(_P, (_i4 % {period}) + 1))"
    )
    baseline = "zip_with(_T, _S, (_t5, _s5) -> _t5 + _s5)"
    residual = "zip_with(_A, _B, (_x6, _b6) -> _x6 - _b6)"
    out = (
        f"named_struct('baseline', _B, 'seasonal', _S, 'trend', _T,"
        f" 'residual', {residual})"
    )
    out = _sql_let(baseline, "_B", out)
    out = _sql_let(seasonal, "_S", out)
    out = _sql_let(f"array({pms})", "_P", out)
    out = _sql_let(detr, "_D0", out)
    out = _sql_let(trend, "_T", out)
    return _sql_let(a, "_A", out)


def _series_outliers_sql(c: str) -> str:
    """SQL text of :func:`_series_outliers` with the sorted array and
    the three percentiles let-bound, so the series is sorted once per
    row. The empty-series guard keeps the percentile struct null
    instead of probing an empty array (ANSI element_at would throw)."""

    def q(p: float) -> str:
        idx = f"({_D.format('(size(_OS) - 1)')} * {_D.format(p)})"
        lo = f"CAST(floor({idx}) AS INT)"
        frac = f"({idx} - {_D.format(lo)})"
        return (
            f"({_D.format(f'element_at(_OS, {lo} + 1)')}"
            f" * ({_D.format('1.0')} - {frac})"
            f" + {_D.format(f'element_at(_OS, least({lo} + 2, size(_OS)))')}"
            f" * {frac})"
        )

    qs = (
        f"CASE WHEN size(_OS) = 0 THEN"
        f" CAST(NULL AS STRUCT<q10: DOUBLE, q50: DOUBLE, q90: DOUBLE>)"
        f" ELSE named_struct('q10', {q(0.1)}, 'q50', {q(0.5)},"
        f" 'q90', {q(0.9)}) END"
    )
    null_d = "CAST(NULL AS DOUBLE)"
    body = (
        f"CASE WHEN size(_OS) = 0 THEN transform({c}, _oe0 -> {null_d})"
        f" ELSE transform({c}, _oe -> CASE"
        f" WHEN _oe IS NULL THEN {null_d}"
        f" WHEN (_OQ.q90 - _OQ.q10) = 0 THEN {_D.format('0.0')}"
        f" WHEN ({_D.format('_oe')} > _OQ.q90)"
        f" OR ({_D.format('_oe')} < _OQ.q10)"
        f" THEN ({_D.format('_oe')} - _OQ.q50) / (_OQ.q90 - _OQ.q10)"
        f" ELSE {_D.format('0.0')} END) END"
    )
    out = _sql_let(qs, "_OQ", body)
    return _sql_let(
        f"array_sort(filter({c}, _of0 -> _of0 IS NOT NULL))", "_OS", out
    )


def _series_decompose_anomalies_sql(
    arr: str, period: int, threshold: float
) -> str:
    """SQL text of :func:`_series_decompose_anomalies`: decompose
    bound once, its residual scored by the outliers text, flags from
    the bound score array."""
    thr = _D.format(repr(float(threshold)))
    null_l = "CAST(NULL AS BIGINT)"
    flag = (
        f"transform(_SC, _fs -> CASE WHEN _fs IS NULL THEN {null_l}"
        f" WHEN _fs > {thr} THEN CAST(1 AS BIGINT)"
        f" WHEN _fs < -{thr} THEN CAST(-1 AS BIGINT)"
        f" ELSE CAST(0 AS BIGINT) END)"
    )
    body = (
        f"named_struct('ad_flag', {flag}, 'ad_score', _SC,"
        f" 'baseline', _DA.baseline)"
    )
    out = _sql_let(_series_outliers_sql("_DA.residual"), "_SC", body)
    return _sql_let(_series_decompose_sql(arr, period), "_DA", out)


def _series_seasonal_sql(arr: str, period: int) -> str:
    """SQL text of :func:`_series_seasonal` — phase medians let-bound
    into one per-row array probed by i % period, so each phase is
    sorted once per row."""

    def phase_median(ph: int) -> str:
        vals = (
            f"array_sort(filter(_SA,"
            f" (_mx{ph}, _mi{ph}) -> _mi{ph} % {period} = {ph}))"
        )
        # the hoisted array is eager, so an EMPTY phase's median
        # (n < period; never probed, since every observed position's
        # phase is non-empty) must be an explicit null, not an
        # element_at(_, 0)
        body = (
            f"CASE WHEN size(_mv{ph}) = 0 THEN CAST(NULL AS DOUBLE)"
            f" ELSE (element_at(_mv{ph},"
            f" CAST(floor((size(_mv{ph}) + 1) / 2) AS INT))"
            f" + element_at(_mv{ph},"
            f" CAST(floor(size(_mv{ph}) / 2) AS INT) + 1))"
            f" / {_D.format('2.0')} END"
        )
        return _sql_let(vals, f"_mv{ph}", body)

    meds = ", ".join(phase_median(ph) for ph in range(period))
    out = (
        f"transform(sequence(0, size(_SA) - 1),"
        f" _si -> element_at(_SM, (_si % {period}) + 1))"
    )
    out = _sql_let(f"array({meds})", "_SM", out)
    return _sql_let(f"transform({arr}, _se0 -> {_D.format('_se0')})", "_SA", out)


def _series_periods_detect_sql(
    arr: str, min_period: int, max_period: int, num_periods: int
) -> str:
    """SQL text of :func:`_series_periods_detect` — mean, variance and
    each candidate lag's ACF let-bound, so each is computed once per
    row."""

    def acf(lag: int) -> str:
        num = (
            f"aggregate(sequence(1, greatest(size(_FA) - {lag}, 0)),"
            f" {_D.format('0.0')},"
            f" (_g{lag}, _i{lag}) -> _g{lag}"
            f" + (element_at(_FA, _i{lag}) - _FM)"
            f" * (element_at(_FA, _i{lag} + {lag}) - _FM))"
        )
        return (
            f"CASE WHEN _FV = 0 THEN {_D.format('0.0')}"
            f" ELSE {num} / _FV END"
        )

    cands = ", ".join(
        _sql_let(
            acf(lag),
            f"_cf{lag}",
            f"named_struct('neg', -_cf{lag},"
            f" 'lag', {_D.format(repr(float(lag)))}, 'score', _cf{lag})",
        )
        for lag in range(min_period, max_period + 1)
    )
    out = (
        f"named_struct('periods', transform(_FT, _t1 -> _t1.lag),"
        f" 'scores', transform(_FT, _t2 -> _t2.score))"
    )
    out = _sql_let(
        f"slice(array_sort(array({cands})), 1, {num_periods})", "_FT", out
    )
    var = (
        f"aggregate(_FA, {_D.format('0.0')},"
        f" (_vc, _vx) -> _vc + (_vx - _FM) * (_vx - _FM))"
    )
    out = _sql_let(var, "_FV", out)
    mean = (
        f"(aggregate(_FA, {_D.format('0.0')},"
        f" (_mc, _mx) -> _mc + _mx) / {_D.format('size(_FA)')})"
    )
    out = _sql_let(mean, "_FM", out)
    return _sql_let(f"transform({arr}, _f0 -> {_D.format('_f0')})", "_FA", out)


def _series_decompose(arr: Column, period: int) -> Column:
    """``series_decompose(x, period)`` — STL-lite decomposition of a
    make-series array into (baseline, seasonal, trend, residual),
    pinned semantics (Kusto's auto-period detection is NOT implemented
    — the period must be a positive literal; b91 is the row-form
    sibling):

    - ``trend[i]``  = clamped centered moving average, half-window
      period//2 (edges average the in-range slice);
    - ``seasonal[i]`` = mean of the detrended values at phase
      ``i % period`` (no re-centering — documented, mirrored in the
      oracle);
    - ``residual`` = x - trend - seasonal; ``baseline`` = trend +
      seasonal (Kusto's contract: baseline + residual = x).

    All arithmetic is left-fold HOF over the observability-sized
    series array — identical fold order to the DuckDB list_reduce
    oracle, so the doubles agree bit-for-bit
    (:func:`_series_decompose_sql`)."""
    if period <= 0:
        raise ValueError("KQL: series_decompose period must be positive")
    return _sql_function(
        f"kql_series_decompose_{period}",
        "arr ARRAY<DOUBLE>",
        _series_decompose_sql("arr", period),
        arr,
    )


def _series_seasonal(arr: Column, period: int) -> Column:
    """``series_seasonal(x, period)`` — Kusto's standalone seasonal
    component (ADX series family; auto-period detection is NOT
    implemented — the period must be a positive integer literal, same
    pin as series_decompose): ``out[i]`` = MEDIAN of the raw values at
    phase ``i % period`` (Kusto's contract — median, not mean, and
    over the RAW series, unlike series_decompose's detrended phase
    means). Median is computed uniformly as
    ``(v[(m+1)//2] + v[m//2 + 1]) / 2`` over the sorted phase values —
    for odd m both picks are the middle element and ``(x + x) / 2 ==
    x`` exactly in IEEE, for even m it is the two-middle average; the
    oracle replays the identical sort + picks, so doubles agree
    bit-for-bit. Phases with no values (n < period) yield null.

    Scale shape: all JVM array HOFs over the make-series array (one
    sort + two picks per phase per row, one probe per element) — zero
    shuffles beyond make-series' own, no UDF
    (:func:`_series_seasonal_sql`)."""
    if period <= 0:
        raise ValueError("KQL: series_seasonal period must be positive")
    return _sql_function(
        f"kql_series_seasonal_{period}",
        "arr ARRAY<DOUBLE>",
        _series_seasonal_sql("arr", period),
        arr,
    )


def _series_decompose_anomalies(
    arr: Column, period: int, threshold: float
) -> Column:
    """``series_decompose_anomalies(x, period [, threshold])`` —
    Kusto's one-call anomaly detector over a make-series array,
    composed from this engine's pinned primitives (no new numerics to
    diverge on): decompose with :func:`_series_decompose`, score the
    RESIDUAL with :func:`_series_outliers` (deterministic Tukey
    fences), then flag = +1 where score > threshold, -1 where score <
    -threshold, else 0 (Kusto's default threshold 1.5). Returns the
    struct (ad_flag, ad_score, baseline) — Kusto's output triple —
    for the tuple-destructuring extend. All JVM array HOFs; zero
    shuffles beyond make-series' own
    (:func:`_series_decompose_anomalies_sql`)."""
    thr = repr(float(threshold)).translate(str.maketrans(".-", "pm", "+"))
    return _sql_function(
        f"kql_series_decompose_anomalies_{period}_{thr}",
        "arr ARRAY<DOUBLE>",
        _series_decompose_anomalies_sql("arr", period, float(threshold)),
        arr,
    )


def _series_periods_detect(
    arr: Column, min_period: int, max_period: int, num_periods: int
) -> Column:
    """``series_periods_detect(x, min_period, max_period, num)`` —
    dominant-period detection over a make-series array. Kusto's
    implementation is periodogram-based; this engine's pinned
    deterministic definition scores each CANDIDATE lag L in
    [min_period, max_period] by the normalized sample
    autocorrelation acf(L) = sum_i (x[i]-m)(x[i+L]-m) / sum_i
    (x[i]-m)^2 (i ascending — the fold order the DuckDB oracle
    replays), where m is the series mean; a constant series (zero
    variance) scores 0 at every lag. Returns the struct (periods,
    scores): the top ``num`` lags by score desc (ties: smaller lag
    first), as double arrays — Kusto's output shape. Candidate lags
    are compile-time literals, so the whole detector unrolls into one
    flat JVM expression per lag — no explode, no Python, no shuffle
    (:func:`_series_periods_detect_sql`)."""
    if not (0 < min_period <= max_period):
        raise ValueError(
            "KQL: series_periods_detect needs 0 < min_period <= max_period"
        )
    if max_period - min_period + 1 > 128:
        raise ValueError(
            "KQL: series_periods_detect candidate range capped at 128 lags"
        )
    if num_periods <= 0:
        raise ValueError("KQL: series_periods_detect num_periods must be > 0")
    return _sql_function(
        f"kql_series_periods_detect_{min_period}_{max_period}_{num_periods}",
        "arr ARRAY<DOUBLE>",
        _series_periods_detect_sql("arr", min_period, max_period, num_periods),
        arr,
    )


@dataclass
class _Tok:
    kind: str
    text: str


def _tokenize(src: str) -> list[_Tok]:
    toks, pos = [], 0
    while pos < len(src):
        m = _TOKEN_RE.match(src, pos)
        if not m or m.end() == pos:
            if src[pos:].strip():
                raise ValueError(f"KQL: cannot tokenize at: {src[pos:pos+20]!r}")
            break
        pos = m.end()
        for kind in ("dur", "num", "str", "op", "word"):
            if m.group(kind) is not None:
                toks.append(_Tok(kind, m.group(kind)))
                break
    return toks


class _DynamicJson:
    """Marker for a ``parse_json(col)`` result awaiting ``.field``
    access — one-level property access compiles straight to a JVM
    ``get_json_object`` probe on the original string column (the b15a
    plan shape), with no intermediate parse materialization."""

    def __init__(self, raw: Column):
        self.raw = raw


class _Parser:
    """Recursive descent over the token stream; produces Columns."""

    def __init__(
        self,
        toks: list[_Tok],
        now: str | None = None,
        lets: dict[str, object] | None = None,
        vars: dict[str, Column] | None = None,
        win: list[Column] | None = None,
    ):
        self.toks = toks
        self.i = 0
        self.now = now
        self.lets = lets or {}
        # name -> Column bindings that shadow table columns; used by
        # mv-apply to bind the array-element lambda variable
        self.vars = vars or {}
        # serialized row order (sort-key Columns) established by a
        # preceding `sort by` / `top` — enables the serialized window
        # functions (row_number/prev/next/row_cumsum); None = unordered
        self.win = win

    def peek(self) -> _Tok | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self) -> _Tok:
        t = self.peek()
        if t is None:
            raise ValueError("KQL: unexpected end of query")
        self.i += 1
        return t

    def accept(self, text: str) -> bool:
        t = self.peek()
        if t and t.text.lower() == text:
            self.i += 1
            return True
        return False

    def expect(self, text: str) -> None:
        if not self.accept(text):
            got = self.peek().text if self.peek() else "<eof>"
            raise ValueError(f"KQL: expected {text!r}, got {got!r}")

    # --- expression grammar (lowest to highest precedence) ---

    def expr(self) -> Column:
        return self._or()

    def _or(self) -> Column:
        left = self._and()
        while self.accept("or"):
            left = left | self._and()
        return left

    def _and(self) -> Column:
        left = self._not()
        while self.accept("and"):
            left = left & self._not()
        return left

    def _not(self) -> Column:
        if self.accept("not"):
            return ~self._not()
        return self._cmp()

    def _cmp(self) -> Column:
        left = self._add()
        t = self.peek()
        if t is None:
            return left
        op = t.text.lower()
        if op in ("==", "!=", "<", "<=", ">", ">="):
            self.next()
            right = self._add()
            return {
                "==": left == right,
                "!=": left != right,
                "<": left < right,
                "<=": left <= right,
                ">": left > right,
                ">=": left >= right,
            }[op]
        if op == "between":
            # Kusto: x between (lo .. hi) — inclusive on both ends
            self.next()
            self.expect("(")
            lo = self._add()
            self.expect("..")
            hi = self._add()
            self.expect(")")
            return (left >= lo) & (left <= hi)
        if op == "matches":
            # `matches regex 'pattern'` — unanchored RE2-style search,
            # compiled to rlike (a compile-time literal regex, JVM-side)
            self.next()
            if self.next().text.lower() != "regex":
                raise ValueError("KQL: expected 'matches regex'")
            t2 = self.next()
            if t2.kind != "str":
                raise ValueError(
                    "KQL: 'matches regex' needs a string-literal pattern"
                )
            return left.rlike(t2.text[1:-1])
        if op == "has_any":
            # has_any (t1, t2, ...) — OR of term matches
            self.next()
            self.expect("(")
            terms = [self._literal_value()]
            while self.accept(","):
                terms.append(self._literal_value())
            self.expect(")")
            cond = None
            for term in terms:
                c = F.lower(left).rlike(
                    r"\b" + re.escape(str(term).lower()) + r"\b"
                )
                cond = c if cond is None else (cond | c)
            return cond
        if op in ("contains", "startswith", "endswith", "has", "in"):
            self.next()
            if op == "in":
                self.expect("(")
                items = [self._literal_value()]
                while self.accept(","):
                    items.append(self._literal_value())
                self.expect(")")
                return left.isin(items)
            if op == "has":
                # has: Kusto term match ≈ case-insensitive word-boundary
                # find. The term becomes a compile-time regex, so the RHS
                # must be a string literal (anything else would silently
                # compile the wrong predicate).
                t2 = self.next()
                if t2.kind != "str":
                    raise ValueError(
                        f"KQL: 'has' requires a string literal right-hand "
                        f"side, got {t2.text!r}"
                    )
                term = t2.text[1:-1]
                return F.lower(left).rlike(r"\b" + re.escape(term.lower()) + r"\b")
            right = self._add()
            if op == "contains":
                return left.contains(right)
            if op == "startswith":
                return left.startswith(right)
            return left.endswith(right)
        return left

    def _add(self) -> Column:
        left = self._mul()
        while True:
            if self.accept("+"):
                left = left + self._mul()
            elif self.accept("-"):
                left = left - self._mul()
            else:
                return left

    def _mul(self) -> Column:
        left = self._unary()
        while True:
            if self.accept("*"):
                left = left * self._unary()
            elif self.accept("/"):
                left = left / self._unary()
            elif self.accept("%"):
                left = left % self._unary()
            else:
                return left

    def _unary(self) -> Column:
        if self.accept("-"):
            return -self._unary()
        return self._primary()

    _last_literal: str = ""

    def _literal_value(self):
        t = self.next()
        if t.kind == "num":
            return float(t.text) if "." in t.text else int(t.text)
        if t.kind == "str":
            return t.text[1:-1]
        raise ValueError(f"KQL: expected literal, got {t.text!r}")

    def _primary(self) -> Column:
        t = self.next()
        if t.kind == "num":
            return F.lit(float(t.text) if "." in t.text else int(t.text))
        if t.kind == "str":
            self._last_literal = t.text[1:-1]
            return F.lit(self._last_literal)
        if t.text == "(":
            e = self.expr()
            self.expect(")")
            return e
        if t.kind == "word":
            low = t.text.lower()
            if low in ("true", "false"):
                return F.lit(low == "true")
            # scalar function call, e.g. strlen(x), tolower(x)
            if self.peek() and self.peek().text == "(":
                return self._postfix(self._scalar_fn(low))
            if t.text in self.vars:
                return self._postfix(self.vars[t.text])
            if t.text in self.lets:
                return F.lit(self.lets[t.text])
            return self._postfix(F.col(t.text))
        raise ValueError(f"KQL: unexpected token {t.text!r}")

    def _postfix(self, e):
        """``.field`` / ``[idx]`` access after a function call —
        dynamic property access on ``parse_json`` results, 0-based
        element access on arrays (Kusto dynamic indexing)."""
        while self.peek() and self.peek().text in (".", "["):
            if self.peek().text == "[":
                self.next()
                t = self.peek()
                if t is not None and t.kind == "num":
                    self.next()
                    self.expect("]")
                    if isinstance(e, _DynamicJson):
                        e = F.get_json_object(e.raw, f"$[{int(t.text)}]")
                    else:
                        # same try_element_at path as the computed form
                        # below: out-of-range → null (not an ANSI
                        # throw), negative → from the end.
                        i = int(t.text)
                        e = F.try_element_at(e, F.lit(i + 1 if i >= 0 else i))
                    continue
                # computed index (0-based, as in Kusto): arr[i] — only
                # for real array columns; dynamic-JSON paths need the
                # literal form above
                if isinstance(e, _DynamicJson):
                    raise ValueError(
                        "KQL: dynamic-JSON array index must be a "
                        "numeric literal"
                    )
                idx = self.expr()
                self.expect("]")
                # Kusto array indexing: 0-based from the front,
                # NEGATIVE indices count from the end (arr[-1] = last
                # element), out-of-range yields null. Spark's
                # try_element_at is 1-based from the front, negative
                # from the end, null when out of range — shift only
                # the non-negative side.
                e = F.try_element_at(
                    e,
                    F.when(idx >= 0, idx.cast("int") + F.lit(1))
                    .otherwise(idx.cast("int")),
                )
                continue
            self.next()
            name = self.next().text
            if isinstance(e, _DynamicJson):
                e = F.get_json_object(e.raw, f"$.{name}")
            else:
                e = e.getField(name)
        if isinstance(e, _DynamicJson):
            raise ValueError(
                "KQL: parse_json(...) must be followed by a .field access "
                "in this subset (dynamic values have no standalone type)"
            )
        return e

    def _datetime_literal(self) -> str:
        """A timestamp literal: ``'2024-01-01 00:00:00'`` or
        ``datetime('2024-01-01')`` (Kusto spelling)."""
        t = self.next()
        if t.kind == "word" and t.text.lower() == "datetime":
            self.expect("(")
            inner = self.next()
            if inner.kind != "str":
                raise ValueError(
                    "KQL: datetime() needs a quoted timestamp in this subset"
                )
            self.expect(")")
            return inner.text[1:-1]
        if t.kind == "str":
            return t.text[1:-1]
        raise ValueError(f"KQL: expected a timestamp literal, got {t.text!r}")

    _DUR_SECONDS = {"ms": 0.001, "s": 1, "m": 60, "h": 3600, "d": 86400}

    def _duration_seconds(self, text: str) -> float:
        m = re.fullmatch(r"(\d+)(ms|[smhd])", text)
        return int(m.group(1)) * self._DUR_SECONDS[m.group(2)]

    _SCALARS = {
        "strlen": F.length,
        "tolower": F.lower,
        "toupper": F.upper,
        "tostring": lambda c: c.cast("string"),
        # Kusto's to* conversions are TRY-semantics — a malformed value
        # yields null, never an error (toint('x') = null). try_cast is
        # the exact Spark spelling; under ANSI a plain cast would throw.
        "toint": lambda c: c.try_cast("int"),
        "tolong": lambda c: c.try_cast("long"),
        "todouble": lambda c: c.try_cast("double"),
        "toreal": lambda c: c.try_cast("double"),
        "tobool": lambda c: c.try_cast("boolean"),
        "todatetime": lambda c: c.try_cast("timestamp"),
        # datetime('2024-01-01 00:00:00') in expression position — the
        # literal-constructor spelling (plugin argument slots parse it
        # via _datetime_literal; here it is an ordinary cast)
        "datetime": lambda c: c.cast("timestamp"),
        "round": F.round,
        "abs": F.abs,
        "floor": F.floor,
        "ceiling": F.ceil,
        "exp": F.exp,
        "log": F.log,  # natural log, as in Kusto
        "log10": F.log10,
        "log2": F.log2,
        "sqrt": F.sqrt,
        "pow": F.pow,
        "sign": F.signum,
        "reverse": F.reverse,
        "strrep": lambda c, n: F.repeat(c, n),
        # replace_string is plain-text (not regex) replacement — exactly
        # Spark's `replace`; all three arguments may be expressions
        "replace_string": lambda s, a, b: F.replace(s, a, b),
        "array_length": F.size,
        "array_min": F.array_min,
        "array_max": F.array_max,
        # hash(v [, mod]) — deterministic 64-bit engine hash (this
        # engine: xxhash64, the same family Kusto documents); with mod,
        # the non-negative remainder as in Kusto
        "hash": lambda c, *m: (
            F.pmod(F.xxhash64(c), m[0]) if m else F.xxhash64(c)
        ),
        "tohex": F.hex,
        # cryptographic digest family — hex-string digests of the
        # STRING FORM of the argument (Kusto's contract; non-string
        # scalars are stringified first). All lowercase hex, identical
        # across engines, so they are oracle-exact — unlike hash(),
        # whose xxhash64 is engine-defined.
        "hash_md5": lambda c: F.md5(c.cast("string")),
        "hash_sha1": lambda c: F.sha1(c.cast("string")),
        "hash_sha256": lambda c: F.sha2(c.cast("string"), 256),
        # hash_combine: order-sensitive combination of engine hashes —
        # engine-defined like hash() (xxhash64 over both inputs)
        "hash_combine": lambda *cs: F.xxhash64(*cs),
        # string_size = SIZE IN BYTES (strlen is characters)
        "string_size": F.octet_length,
        "unixtime_seconds_todatetime": lambda c: F.timestamp_seconds(c),
        "unixtime_milliseconds_todatetime": lambda c: F.timestamp_millis(
            c.cast("long")
        ),
        # trigonometry family — plain codegen math
        "sin": F.sin,
        "cos": F.cos,
        "tan": F.tan,
        "asin": F.asin,
        "acos": F.acos,
        "atan": F.atan,
        "atan2": lambda y, x: F.atan2(y, x),
        "degrees": F.degrees,
        "radians": F.radians,
        "pi": lambda: F.lit(math.pi),
        # indexof_regex(s, rx) — 0-based index of the first regex
        # match; Kusto returns -1 when absent, exactly regexp_instr's
        # 0-if-absent shifted by one. The regex is the raw literal
        # slice (verbatim semantics, see _TOKEN_RE)
        "indexof_regex": lambda s, rx: (F.regexp_instr(s, rx) - 1).cast(
            "long"
        ),
        # bitset_count_ones(x) — population count on the int64 view
        "bitset_count_ones": lambda c: F.bit_count(c.cast("long")).cast(
            "long"
        ),
        # unicode_codepoints_from_string / _to_string — the dynamic
        # codepoint-array round trip. split('') emits a trailing empty
        # string slot on some inputs — filtered, not assumed away
        "unicode_codepoints_from_string": lambda s: F.transform(
            F.filter(F.split(s, ""), lambda ch: ch != ""),
            lambda ch: F.ascii(ch).cast("long"),
        ),
        # format_string's %c formats a full Unicode CODE POINT (char()
        # would truncate to n % 256 and break everything past Latin-1)
        "unicode_codepoints_to_string": lambda a: F.array_join(
            F.transform(
                a, lambda cp: F.format_string("%c", cp.cast("int"))
            ),
            "",
        ),
        # strcmp(a, b) — Kusto's three-way string compare
        "strcmp": lambda a, b: F.when(a < b, -1)
        .when(a > b, 1)
        .otherwise(0)
        .cast("long"),
        # Kusto: -1 when absent — array_position's 0-if-absent shifts
        # to exactly that
        "array_index_of": lambda a, v: (F.array_position(a, v) - 1),
        # Kusto inclusive 0-based [start, end]
        "array_slice": lambda a, st, en: F.slice(
            a, st.cast("int") + 1, (en - st).cast("int") + 1
        ),
        "array_reverse": F.reverse,
        "array_sort_asc": F.array_sort,
        "array_sort_desc": lambda c: F.reverse(F.array_sort(c)),
        "max_of": lambda *cs: F.greatest(*cs),
        "min_of": lambda *cs: F.least(*cs),
        "isnan": F.isnan,
        "isfinite": lambda c: ~(
            F.isnan(c) | (F.abs(c) == F.lit(float("inf")))
        ),
        "base64_encode_tostring": lambda c: F.base64(F.encode(c, "UTF-8")),
        "base64_decode_tostring": lambda c: F.decode(F.unbase64(c), "UTF-8"),
        "url_encode_component": F.url_encode,
        "url_decode": F.url_decode,
        "array_concat": lambda *cs: F.concat(*cs),
        # JVM fold — sums element-wise without exploding (double result;
        # Kusto's dynamic arithmetic is double-typed for reals anyway)
        "array_sum": lambda c: F.aggregate(
            c, F.lit(0.0), lambda a, x: a + x.cast("double")
        ),
        # series_stats_dynamic(arr) — Kusto's one-call series summary,
        # returned as a dynamic bag (min/min_idx/max/max_idx/avg/stdev/
        # sum/len) so it composes with `evaluate bag_unpack`. All
        # statistics are JVM array folds over the make-series array —
        # no explode, no shuffle; stdev is the sample form from exact
        # power sums. Idx fields are 0-based first occurrences, as in
        # Kusto.
        "series_stats_dynamic": lambda c: F.to_json(
            F.struct(
                F.array_min(c).cast("double").alias("min"),
                (F.array_position(c, F.array_min(c)) - 1).alias("min_idx"),
                F.array_max(c).cast("double").alias("max"),
                (F.array_position(c, F.array_max(c)) - 1).alias("max_idx"),
                (
                    F.aggregate(
                        c, F.lit(0.0), lambda a, x: a + x.cast("double")
                    )
                    / F.size(c)
                ).alias("avg"),
                F.sqrt(
                    (
                        F.aggregate(
                            c,
                            F.lit(0.0),
                            lambda a, x: a
                            + x.cast("double") * x.cast("double"),
                        )
                        - F.pow(
                            F.aggregate(
                                c,
                                F.lit(0.0),
                                lambda a, x: a + x.cast("double"),
                            ),
                            2,
                        )
                        / F.size(c)
                    )
                    / (F.size(c) - 1)
                ).alias("stdev"),
                F.aggregate(
                    c, F.lit(0.0), lambda a, x: a + x.cast("double")
                ).alias("sum"),
                F.size(c).alias("len"),
            )
        ),
        # series_outliers(arr) — deterministic Tukey-fence anomaly
        # scores per element (see _series_outliers for the exact
        # definition and the divergence note vs Kusto's sketch-based
        # percentiles)
        "series_outliers": _series_outliers,
        # series_fit_line / series_fit_2lines — per-series linear and
        # segmented-linear regression (tuple-extend destructures the
        # struct); see the helpers for the pinned contracts
        "series_fit_line": _series_fit_line,
        "series_fit_2lines": _series_fit_2lines,
        # IPv4 scalar family — pure codegen (regex probe + fold /
        # arithmetic), Kusto's error-as-null convention
        "parse_ipv4": _parse_ipv4,
        "format_ipv4": _format_ipv4,
        "ipv4_is_private": _ipv4_is_private,
        "ipv4_is_in_range": _ipv4_is_in_range,
        # geo: pinned haversine contract (see _geo_distance_2points);
        # geohash encode is parsed specially (literal precision)
        "geo_distance_2points": _geo_distance_2points,
        "geo_geohash_to_central_point": _geo_geohash_to_central_point,
        # version ordering (format_bytes is parsed specially — its
        # precision is a compile-time literal)
        "parse_version": _parse_version,
        # array-manipulation family (pure JVM array expressions; the
        # set_* trio dedups like Kusto — Spark's array_union/intersect/
        # except are distinct-preserving)
        "pack_array": lambda *cs: F.array(*cs),
        "zip": lambda a, b: F.zip_with(a, b, lambda x, y: F.array(x, y)),
        "set_union": lambda *cs: _reduce(F.array_union, cs),
        "set_intersect": lambda *cs: _reduce(F.array_intersect, cs),
        # set_difference(a, b, c, ...) = a minus the union of the rest
        "set_difference": lambda a, *cs: F.array_except(
            a, F.concat(*cs) if len(cs) > 1 else cs[0]
        ),
        "array_rotate_left": _array_rotate,
        "array_rotate_right": lambda a, n: _array_rotate(a, -n),
        "array_shift_left": _array_shift,
        "array_shift_right": lambda a, n: _array_shift(a, -n),
        "array_split": _array_split,
        "array_iff": _array_iff,
        # parse_url — dynamic bag (JSON string) of URL components
        "parse_url": _parse_url,
        # series math — folds/zips over make-series arrays, no explode
        "series_dot_product": _series_dot_product,
        "series_magnitude": _series_magnitude,
        "series_cosine_similarity": _series_cosine,
        "series_pearson_correlation": _series_pearson,
        # element-wise series arithmetic (null on length mismatch;
        # divide pins 0-divisor elements to null on BOTH engines)
        "series_add": _series_elementwise(
            lambda x, y: x.cast("double") + y.cast("double")
        ),
        "series_subtract": _series_elementwise(
            lambda x, y: x.cast("double") - y.cast("double")
        ),
        "series_multiply": _series_elementwise(
            lambda x, y: x.cast("double") * y.cast("double")
        ),
        "series_divide": _series_elementwise(
            lambda x, y: F.when(
                y.cast("double") != 0, x.cast("double") / y.cast("double")
            )
        ),
        "series_greater": _series_elementwise(
            lambda x, y: x.cast("double") > y.cast("double")
        ),
        "series_abs": _series_map(F.abs),
        "series_sign": _series_map(F.signum),
        "series_floor": _series_map(F.floor),
        "series_ceiling": _series_map(F.ceil),
        "series_exp": _series_map(F.exp),
        "series_log": _series_map(F.log),
        "series_sqrt": _series_map(F.sqrt),
        "series_pow": lambda a, p: F.transform(
            a, lambda x: F.pow(x.cast("double"), p)
        ),
        # range(start, stop, step) — Kusto's dynamic range constructor
        # (integer grid; spark.range is the TABULAR source sibling)
        "range": lambda s, e, st=None: F.sequence(
            s.cast("long"),
            e.cast("long"),
            (st if st is not None else F.lit(1)).cast("long"),
        ),
        "repeat": lambda v, n: F.array_repeat(v, n.cast("int")),
        # dynamic-bag key algebra (flat-bag contract, see _bag_map):
        # bag_keys is Spark's built-in json_object_keys (document
        # order); merge/remove are per-row map folds — no explode, no
        # shuffle, no UDF
        "bag_keys": F.json_object_keys,
        "bag_merge": _bag_merge,
        "bag_remove_keys": _bag_remove_keys,
        # endof* — last representable instant of the calendar period
        # at this engine's microsecond precision (Kusto's 100 ns ticks
        # round to the same display second; pinned micro contract)
        "endofday": lambda c: _end_of(F.date_trunc("day", c), days=1),
        "endofweek": lambda c: _end_of(
            F.date_sub(c, F.dayofweek(c) - F.lit(1)).cast("timestamp"),
            days=7,
        ),
        "endofmonth": lambda c: _end_of(F.date_trunc("month", c), months=1),
        "endofyear": lambda c: _end_of(F.date_trunc("year", c), years=1),
        # binary_* — 64-bit bitwise scalars; shifts take expression
        # counts via call_function (the pyspark wrappers demand
        # literals)
        "binary_and": lambda a, b: a.cast("long").bitwiseAND(
            b.cast("long")
        ),
        "binary_or": lambda a, b: a.cast("long").bitwiseOR(b.cast("long")),
        "binary_xor": lambda a, b: a.cast("long").bitwiseXOR(
            b.cast("long")
        ),
        "binary_not": lambda a: F.bitwise_not(a.cast("long")),
        "binary_shift_left": lambda a, n: F.call_function(
            "shiftleft", a.cast("long"), n.cast("int")
        ),
        "binary_shift_right": lambda a, n: F.call_function(
            "shiftright", a.cast("long"), n.cast("int")
        ),
        # series gap-filling (the make-series default=null companions):
        # const is one transform; forward is one fold; backward is
        # forward on the reversed array; linear interpolates interior
        # runs and takes the nearest value at the edges (Kusto's rule)
        "series_fill_const": lambda c, v: F.transform(
            c, lambda x: F.coalesce(x.cast("double"), v.cast("double"))
        ),
        "series_fill_forward": _series_fill_forward,
        "series_fill_backward": lambda c: F.reverse(
            _series_fill_forward(F.reverse(c))
        ),
        "series_fill_linear": _series_fill_linear,
        "dayofmonth": F.dayofmonth,
        "monthofyear": F.month,
        "getyear": F.year,
        "hourofday": F.hour,
        # week_of_year — ISO 8601 week number (Kusto's contract and
        # Spark's weekofyear agree: week 1 contains the first Thursday)
        "week_of_year": F.weekofyear,
        # dayofweek — Kusto returns a timespan of WHOLE DAYS since the
        # preceding Sunday; this engine carries timespans as numbers,
        # so the day count itself: Sunday = 0 .. Saturday = 6
        "dayofweek": lambda c: F.dayofweek(c) - F.lit(1),
        "dayofyear": F.dayofyear,
        # make_datetime(y, m, d[, h, mi, s]) — calendar constructor;
        # fractional seconds allowed in the last slot as in Kusto
        "make_datetime": lambda y, mo, d, h=None, mi=None, s=None: (
            F.make_timestamp(
                y.cast("int"),
                mo.cast("int"),
                d.cast("int"),
                (h if h is not None else F.lit(0)).cast("int"),
                (mi if mi is not None else F.lit(0)).cast("int"),
                (s if s is not None else F.lit(0)).cast("decimal(16,6)"),
            )
        ),
        "startofday": lambda c: F.date_trunc("day", c),
        "startofmonth": lambda c: F.date_trunc("month", c),
        "startofyear": lambda c: F.date_trunc("year", c),
        # Kusto weeks start on Sunday (Spark's date_trunc uses Monday),
        # so anchor on dayofweek (1 = Sunday) instead
        "startofweek": lambda c: F.date_sub(
            c, F.dayofweek(c) - F.lit(1)
        ).cast("timestamp"),
        # iff/iif: Kusto's ternary — a single when/otherwise
        "iff": lambda c, a, b: F.when(c, a).otherwise(b),
        "iif": lambda c, a, b: F.when(c, a).otherwise(b),
        "strcat": lambda *cs: F.concat(*cs),
        "coalesce": lambda *cs: F.coalesce(*cs),
        "isnull": lambda c: c.isNull(),
        "isnotnull": lambda c: c.isNotNull(),
        "isempty": lambda c: c.isNull() | (c == F.lit("")),
        "isnotempty": lambda c: c.isNotNull() & (c != F.lit("")),
    }

    def _scalar_fn(self, name: str) -> Column:
        if name == "ago":
            # ago(1h): now() minus a duration. The anchor is injectable
            # (kql(..., now=...)) so replays and differential oracles are
            # deterministic; un-anchored it is the wall clock, as in Kusto.
            self.expect("(")
            t = self.next()
            self.expect(")")
            if t.kind != "dur":
                raise ValueError(f"KQL: ago() needs a duration, got {t.text!r}")
            secs = int(self._duration_seconds(t.text))
            anchor = (
                F.lit(self.now).cast("timestamp")
                if self.now is not None
                else F.current_timestamp()
            )
            return anchor - F.expr(f"INTERVAL {secs} SECOND")
        if name == "now":
            # now(): same injectable anchor as ago() so differential
            # replays stay deterministic
            self.expect("(")
            self.expect(")")
            return (
                F.lit(self.now).cast("timestamp")
                if self.now is not None
                else F.current_timestamp()
            )
        if name in ("parse_json", "todynamic"):
            self.expect("(")
            e = self.expr()
            self.expect(")")
            return _DynamicJson(e)
        if name in ("bag_pack", "pack", "pack_dictionary"):
            # bag_pack(k1, v1, k2, v2, ...) — construct a dynamic bag.
            # Two compile paths: when EVERY key is a string literal the
            # bag is a typed struct (to_json preserves the values' JSON
            # types — numbers stay numbers); any computed key falls
            # back to a string-valued map (map keys are runtime data,
            # so values are uniformly stringified — the flat-bag
            # contract that bag_merge/make_bag operate under). Both are
            # pure codegen per row.
            self.expect("(")
            pairs: list[tuple[object, Column]] = []
            lit_keys: list[str | None] = []
            while True:
                t0 = self.peek()
                if (
                    t0 is not None
                    and t0.kind == "str"
                    and self.i + 1 < len(self.toks)
                    and self.toks[self.i + 1].text == ","
                ):
                    self.next()
                    lit_keys.append(t0.text[1:-1])
                    key: object = t0.text[1:-1]
                else:
                    lit_keys.append(None)
                    key = self.expr()
                self.expect(",")
                pairs.append((key, self.expr()))
                if not self.accept(","):
                    break
            self.expect(")")
            if not pairs:
                raise ValueError("KQL: bag_pack() needs key/value pairs")
            if all(k is not None for k in lit_keys):
                if len(set(lit_keys)) != len(lit_keys):
                    raise ValueError(
                        "KQL: bag_pack() literal keys must be distinct"
                    )
                return F.to_json(
                    F.struct(
                        *[v.alias(str(k)) for k, v in pairs]
                    )
                )
            keys = [
                F.lit(k) if isinstance(k, str) else k.cast("string")
                for k, _ in pairs
            ]
            vals = [v.cast("string") for _, v in pairs]
            return F.to_json(
                F.map_from_arrays(F.array(*keys), F.array(*vals))
            )
        if name == "dcount_hll":
            # scalar estimate over an hll()/hll_merge() sketch column
            self.expect("(")
            e = self.expr()
            self.expect(")")
            return F.hll_sketch_estimate(e)
        if name == "series_decompose_forecast":
            # series_decompose_forecast(x, period, points) — both the
            # seasonal period and the forecast horizon are positive
            # integer literals (they parameterize the fold shapes)
            self.expect("(")
            arr = self.expr()
            self.expect(",")
            t = self.next()
            if t.kind != "num" or "." in t.text:
                raise ValueError(
                    "KQL: series_decompose_forecast period must be an "
                    "integer literal"
                )
            self.expect(",")
            t2 = self.next()
            if t2.kind != "num" or "." in t2.text:
                raise ValueError(
                    "KQL: series_decompose_forecast points must be an "
                    "integer literal"
                )
            self.expect(")")
            if int(t.text) <= 0 or int(t2.text) <= 0:
                raise ValueError(
                    "KQL: series_decompose_forecast needs positive "
                    "period and points"
                )
            return _series_decompose_forecast(arr, int(t.text), int(t2.text))
        if name == "series_decompose":
            # series_decompose(x, period) — period must be a positive
            # integer literal (Kusto's auto-detection not implemented)
            self.expect("(")
            arr = self.expr()
            self.expect(",")
            t = self.next()
            if t.kind != "num" or "." in t.text:
                raise ValueError(
                    "KQL: series_decompose period must be an integer literal"
                )
            self.expect(")")
            return _series_decompose(arr, int(t.text))
        if name == "series_seasonal":
            # series_seasonal(x, period) — period must be a positive
            # integer literal (Kusto's auto-detection not implemented,
            # same pin as series_decompose)
            self.expect("(")
            arr = self.expr()
            self.expect(",")
            t = self.next()
            if t.kind != "num" or "." in t.text:
                raise ValueError(
                    "KQL: series_seasonal period must be an integer literal"
                )
            self.expect(")")
            return _series_seasonal(arr, int(t.text))
        if name == "series_decompose_anomalies":
            # series_decompose_anomalies(x, period [, threshold]) —
            # period an integer literal, threshold a numeric literal
            # (Kusto default 1.5); binds (ad_flag, ad_score, baseline)
            self.expect("(")
            arr = self.expr()
            self.expect(",")
            t = self.next()
            if t.kind != "num" or "." in t.text:
                raise ValueError(
                    "KQL: series_decompose_anomalies period must be an "
                    "integer literal"
                )
            thr = 1.5
            if self.accept(","):
                tt = self.next()
                if tt.kind != "num":
                    raise ValueError(
                        "KQL: series_decompose_anomalies threshold must "
                        "be a numeric literal"
                    )
                thr = float(tt.text)
            self.expect(")")
            return _series_decompose_anomalies(arr, int(t.text), thr)
        if name == "series_periods_detect":
            # series_periods_detect(x, min_period, max_period, num) —
            # all three bounds integer literals (compile-time lag
            # unroll); binds (periods, scores)
            self.expect("(")
            arr = self.expr()
            bounds = []
            for which in ("min_period", "max_period", "num_periods"):
                self.expect(",")
                t = self.next()
                if t.kind != "num" or "." in t.text:
                    raise ValueError(
                        f"KQL: series_periods_detect {which} must be an "
                        "integer literal"
                    )
                bounds.append(int(t.text))
            self.expect(")")
            return _series_periods_detect(arr, *bounds)
        if name == "series_fir":
            # series_fir(x, dynamic([...]) [, normalize [, center]]) —
            # the filter must be a compile-time dynamic literal (as in
            # Kusto, where it is a constant of the query), so the whole
            # filter unrolls into one flat JVM expression.
            self.expect("(")
            arr = self.expr()
            self.expect(",")
            if self.next().text.lower() != "dynamic":
                raise ValueError(
                    "KQL: series_fir filter must be a dynamic([...]) literal"
                )
            self.expect("(")
            self.expect("[")
            taps: list[float] = []
            while True:
                tok = self.next()
                sign = 1.0
                if tok.text == "-":
                    sign, tok = -1.0, self.next()
                if tok.kind != "num":
                    raise ValueError(
                        "KQL: series_fir filter must hold numeric literals"
                    )
                taps.append(sign * float(tok.text))
                if not self.accept(","):
                    break
            self.expect("]")
            self.expect(")")
            def _bool_arg(which: str) -> bool:
                tok = self.next().text.lower()
                if tok not in ("true", "false"):
                    raise ValueError(
                        f"KQL: series_fir {which} must be the literal "
                        f"true or false, got {tok!r}"
                    )
                return tok == "true"

            normalize = center = False
            if self.accept(","):
                normalize = _bool_arg("normalize")
                if self.accept(","):
                    center = _bool_arg("center")
            self.expect(")")
            return _series_fir(arr, taps, normalize, center)
        if name == "series_iir":
            # series_iir(x, dynamic([b...]), dynamic([a...])) — both
            # coefficient sets must be compile-time dynamic literals
            # (as in Kusto, constants of the query), so the recurrence
            # step unrolls into one flat JVM lambda.
            self.expect("(")
            arr = self.expr()

            def _iir_taps(which: str) -> list[float]:
                self.expect(",")
                if self.next().text.lower() != "dynamic":
                    raise ValueError(
                        f"KQL: series_iir {which} must be a "
                        f"dynamic([...]) literal"
                    )
                self.expect("(")
                self.expect("[")
                out: list[float] = []
                while True:
                    tok = self.next()
                    sign = 1.0
                    if tok.text == "-":
                        sign, tok = -1.0, self.next()
                    if tok.kind != "num":
                        raise ValueError(
                            f"KQL: series_iir {which} must hold "
                            f"numeric literals"
                        )
                    out.append(sign * float(tok.text))
                    if not self.accept(","):
                        break
                self.expect("]")
                self.expect(")")
                return out

            b_taps = _iir_taps("numerator (b)")
            a_taps = _iir_taps("denominator (a)")
            self.expect(")")
            return _series_iir(arr, b_taps, a_taps)
        if name == "split":
            # split(source, 'delimiter') — Kusto's delimiter is a plain
            # string, Spark's is a regex, so escape it
            self.expect("(")
            src = self.expr()
            self.expect(",")
            d = self.next()
            if d.kind != "str":
                raise ValueError("KQL: split() needs a string-literal delimiter")
            self.expect(")")
            return F.split(src, re.escape(d.text[1:-1]))
        if name == "indexof":
            # indexof(source, 'lookup') — Kusto is 0-based with -1 for
            # no match; instr is 1-based with 0, so shift by one
            self.expect("(")
            src = self.expr()
            self.expect(",")
            sub = self.next()
            if sub.kind != "str":
                raise ValueError("KQL: indexof() needs a string-literal lookup")
            self.expect(")")
            return (F.instr(src, sub.text[1:-1]) - F.lit(1)).cast("long")
        if name == "countof":
            # countof(source, 'search'): occurrence count via the length
            # delta of a full plain-text erase — one JVM expression
            self.expect("(")
            src = self.expr()
            self.expect(",")
            sub = self.next()
            if sub.kind != "str":
                raise ValueError("KQL: countof() needs a string-literal search")
            self.expect(")")
            needle = sub.text[1:-1]
            if not needle:
                raise ValueError("KQL: countof() search must be non-empty")
            erased = F.replace(src, F.lit(needle), F.lit(""))
            return (
                (F.length(src) - F.length(erased)) / F.lit(len(needle))
            ).cast("long")
        if name == "datetime_part":
            # datetime_part('part', ts) — compile the literal part name
            # to Spark's date_part field
            self.expect("(")
            part = self.next()
            if part.kind != "str":
                raise ValueError("KQL: datetime_part() needs a literal part name")
            self.expect(",")
            src = self.expr()
            self.expect(")")
            field = {
                "year": "YEAR",
                "quarter": "QUARTER",
                "month": "MONTH",
                "week_of_year": "WEEK",
                "day": "DAY",
                "dayofyear": "DOY",
                "hour": "HOUR",
                "minute": "MINUTE",
                "second": "SECOND",
            }.get(part.text[1:-1].lower())
            if field is None:
                raise ValueError(
                    f"KQL: unsupported datetime_part {part.text!r}"
                )
            return F.date_part(F.lit(field), src).cast("long")
        if name == "extract_all":
            # extract_all('regex', source) — every match as a dynamic
            # array; with ONE capture group the captures are returned,
            # with none the whole matches (Kusto's multi-group form
            # returns arrays-of-arrays — unsupported, explicit error).
            # Compiles to regexp_extract_all, one JVM regex pass.
            self.expect("(")
            rxt = self.next()
            if rxt.kind != "str":
                raise ValueError("KQL: extract_all() needs a literal regex")
            self.expect(",")
            src = self.expr()
            self.expect(")")
            rx = rxt.text[1:-1]
            ngroups = re.compile(rx).groups
            if ngroups > 1:
                raise ValueError(
                    "KQL: extract_all() supports at most one capture group "
                    "in this subset (multi-group returns nested arrays)"
                )
            return F.regexp_extract_all(src, F.lit(rx), ngroups)
        if name in ("trim", "trim_start", "trim_end"):
            # trim[_start|_end]('regex', source): strip leading and/or
            # trailing matches, as in Kusto (whitespace = trim('\\s', x))
            self.expect("(")
            rxt = self.next()
            if rxt.kind != "str":
                raise ValueError(f"KQL: {name}() needs a string-literal regex")
            self.expect(",")
            src = self.expr()
            self.expect(")")
            rx = rxt.text[1:-1]
            pat = {
                "trim": f"^(?:{rx})+|(?:{rx})+$",
                "trim_start": f"^(?:{rx})+",
                "trim_end": f"(?:{rx})+$",
            }[name]
            return F.regexp_replace(src, pat, "")
        if name == "strcat_delim":
            # strcat_delim('sep', a, b, ...) — separator must be a
            # string literal (concat_ws takes it at compile time)
            self.expect("(")
            sep = self.next()
            if sep.kind != "str":
                raise ValueError(
                    "KQL: strcat_delim() needs a string-literal separator"
                )
            parts = []
            while self.accept(","):
                parts.append(self.expr().cast("string"))
            self.expect(")")
            if not parts:
                raise ValueError("KQL: strcat_delim() needs arguments")
            return F.concat_ws(sep.text[1:-1], *parts)
        if name == "translate":
            # translate('from', 'to', source) — Kusto argument order;
            # character maps are compile-time literals
            self.expect("(")
            frm = self.next()
            self.expect(",")
            to = self.next()
            self.expect(",")
            src = self.expr()
            self.expect(")")
            if frm.kind != "str" or to.kind != "str":
                raise ValueError(
                    "KQL: translate() needs string-literal character maps"
                )
            return F.translate(src, frm.text[1:-1], to.text[1:-1])
        if name == "format_datetime":
            # format_datetime(dt, 'pattern') — the pattern is a
            # compile-time literal (it parameterizes the JVM
            # DateTimeFormatter, not row data)
            self.expect("(")
            dt = self.expr()
            self.expect(",")
            ft = self.next()
            if ft.kind != "str":
                raise ValueError(
                    "KQL: format_datetime() needs a string-literal pattern"
                )
            self.expect(")")
            return F.date_format(dt, _kusto_datetime_format(ft.text[1:-1]))
        if name == "format_timespan":
            # format_timespan(x, 'pattern') over the numeric-seconds
            # timespan carrier (see _format_timespan)
            self.expect("(")
            ts = self.expr()
            self.expect(",")
            ft = self.next()
            if ft.kind != "str":
                raise ValueError(
                    "KQL: format_timespan() needs a string-literal pattern"
                )
            self.expect(")")
            return _format_timespan(ts, ft.text[1:-1])
        if name == "totimespan":
            # totimespan('[d.]hh:mm:ss') / totimespan(1h) — a timespan
            # literal as this engine's numeric-seconds carrier
            self.expect("(")
            t = self.next()
            self.expect(")")
            if t.kind == "dur":
                return F.lit(self._duration_seconds(t.text))
            if t.kind != "str":
                raise ValueError(
                    "KQL: totimespan() needs a literal timespan"
                )
            return F.lit(_timespan_literal_seconds(t.text[1:-1]))
        if name == "datetime_add":
            # datetime_add('part', amount, dt) — calendar-unit add
            self.expect("(")
            part = self.next()
            ptext = part.text[1:-1] if part.kind == "str" else part.text
            ptext = ptext.lower()
            units = {
                "year": "YEAR", "quarter": "QUARTER", "month": "MONTH",
                "week": "WEEK", "day": "DAY", "hour": "HOUR",
                "minute": "MINUTE", "second": "SECOND",
            }
            if ptext not in units:
                raise ValueError(
                    f"KQL: datetime_add part must be one of "
                    f"{sorted(units)}, got {ptext!r}"
                )
            self.expect(",")
            amount = self.expr()
            self.expect(",")
            dt = self.expr()
            self.expect(")")
            z = F.lit(0)
            kw = {
                "year": dict(years=amount),
                "quarter": dict(months=amount * 3),
                "month": dict(months=amount),
                "week": dict(weeks=amount),
                "day": dict(days=amount),
                "hour": dict(hours=amount),
                "minute": dict(mins=amount),
                "second": dict(secs=amount.cast("double")),
            }[ptext]
            base = dict(years=z, months=z, weeks=z, days=z, hours=z,
                        mins=z, secs=F.lit(0.0))
            base.update(kw)
            return dt + F.make_interval(**base)
        if name == "datetime_diff":
            # datetime_diff('part', dt1, dt2) — calendar BOUNDARIES
            # crossed between dt2 and dt1 (Kusto's count-of-boundaries
            # semantics, NOT elapsed time: datetime_diff('year',
            # 2017-01-01, 2016-12-31) = 1). Weeks anchor on Sunday
            # (Kusto), not ISO Monday.
            self.expect("(")
            part = self.next()
            ptext = (
                part.text[1:-1] if part.kind == "str" else part.text
            ).lower()
            allowed = (
                "year", "quarter", "month", "week", "day",
                "hour", "minute", "second",
            )
            if ptext not in allowed:
                raise ValueError(
                    f"KQL: datetime_diff part must be one of "
                    f"{sorted(allowed)}, got {ptext!r}"
                )
            self.expect(",")
            d1 = self.expr().cast("timestamp")
            self.expect(",")
            d2 = self.expr().cast("timestamp")
            self.expect(")")
            if ptext == "year":
                return (F.year(d1) - F.year(d2)).cast("long")
            if ptext == "quarter":
                return (
                    (F.year(d1) * 4 + F.quarter(d1))
                    - (F.year(d2) * 4 + F.quarter(d2))
                ).cast("long")
            if ptext == "month":
                return (
                    (F.year(d1) * 12 + F.month(d1))
                    - (F.year(d2) * 12 + F.month(d2))
                ).cast("long")
            if ptext == "week":
                sun = lambda c: F.date_sub(  # noqa: E731
                    F.to_date(c), F.dayofweek(c) - F.lit(1)
                )
                return F.floor(
                    F.datediff(sun(d1), sun(d2)) / F.lit(7)
                ).cast("long")
            if ptext == "day":
                return F.datediff(F.to_date(d1), F.to_date(d2)).cast("long")
            secs = {"hour": 3600, "minute": 60, "second": 1}[ptext]
            unit = {"hour": "hour", "minute": "minute", "second": "second"}[
                ptext
            ]
            return F.floor(
                (
                    F.unix_seconds(F.date_trunc(unit, d1))
                    - F.unix_seconds(F.date_trunc(unit, d2))
                )
                / F.lit(secs)
            ).cast("long")
        if name in ("row_number", "prev", "next", "row_cumsum"):
            # Kusto's serialized window functions. They are only legal
            # over a serialized (row-ordered) input — in this subset
            # that means after `sort by` / `top` (whose output Kusto
            # likewise defines as serialized). Compiled to a Spark
            # window over the recorded sort keys. SCALE NOTE: a global
            # (un-partitioned) ordered window evaluates on a single
            # task — identical to Kusto, whose serialized operators are
            # single-node too; use these after a row-count-bounding
            # stage (top / take / summarize) at 100 TB, not on the raw
            # fact table.
            if self.win is None:
                raise ValueError(
                    f"KQL: {name}() requires serialized input — "
                    f"precede it with 'sort by' (or 'top')"
                )
            w = Window.orderBy(*self.win)
            self.expect("(")
            if name == "row_number":
                start = None
                if not self.accept(")"):
                    t = self.next()
                    if t.kind != "num":
                        raise ValueError(
                            "KQL: row_number() start index must be a "
                            "numeric literal"
                        )
                    start = int(t.text)
                    self.expect(")")
                col = F.row_number().over(w).cast("long")
                return col if start is None else col - F.lit(1) + F.lit(start)
            if name == "row_cumsum":
                e = self.expr()
                self.expect(")")
                return F.sum(e).over(
                    w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                )
            e = self.expr()
            off, dflt = 1, None
            if self.accept(","):
                t = self.next()
                if t.kind != "num":
                    raise ValueError(
                        f"KQL: {name}() offset must be a numeric literal"
                    )
                off = int(t.text)
                if self.accept(","):
                    neg = self.accept("-")
                    d = self.next()
                    if d.kind == "num":
                        dflt = float(d.text) if "." in d.text else int(d.text)
                        if neg:
                            dflt = -dflt
                    elif d.kind == "str" and not neg:
                        dflt = d.text[1:-1]
                    else:
                        raise ValueError(
                            f"KQL: {name}() default must be a literal"
                        )
            self.expect(")")
            fn = F.lag if name == "prev" else F.lead
            return fn(e, off, dflt).over(w)
        if name == "bin":
            # bin(expr, size): floor to a timestamp bucket (duration
            # literal: 1h, 30m, ...) or a numeric bucket. Compiles to
            # pure arithmetic — groupable, pushdown-friendly.
            self.expect("(")
            e = self.expr()
            self.expect(",")
            t = self.next()
            self.expect(")")
            if t.kind == "dur":
                secs = self._duration_seconds(t.text)
                bucket = (
                    F.floor(F.unix_timestamp(e) / F.lit(secs)) * F.lit(int(secs))
                ).cast("long")
                return F.timestamp_seconds(bucket)
            size = float(t.text) if "." in t.text else int(t.text)
            return F.floor(e / F.lit(size)) * F.lit(size)
        if name == "bin_at":
            # bin_at(expr, size, fixedPoint): bin() with an ANCHORED
            # grid — buckets align to fixedPoint instead of epoch/zero
            # (fiscal weeks, shifted days, 15-minute marks offset from
            # :07). Same pure arithmetic as bin(): fixed + floor((v -
            # fixed)/size)*size, duration or numeric size.
            self.expect("(")
            e = self.expr()
            self.expect(",")
            t = self.next()
            self.expect(",")
            anchor = self.expr()
            self.expect(")")
            if t.kind == "dur":
                secs = int(self._duration_seconds(t.text))
                av = F.unix_timestamp(anchor)
                bucket = av + F.floor(
                    (F.unix_timestamp(e) - av) / F.lit(secs)
                ) * F.lit(secs)
                return F.timestamp_seconds(bucket.cast("long"))
            size = float(t.text) if "." in t.text else int(t.text)
            return anchor + F.floor((e - anchor) / F.lit(size)) * F.lit(size)
        if name == "case":
            # case(pred1, val1, pred2, val2, ..., default) — chained
            # when/otherwise, evaluated in order like Kusto
            self.expect("(")
            items = [self.expr()]
            while self.accept(","):
                items.append(self.expr())
            self.expect(")")
            if len(items) < 3 or len(items) % 2 == 0:
                raise ValueError(
                    "KQL: case() needs pred/value pairs plus a default "
                    f"(got {len(items)} arguments)"
                )
            out = F.when(items[0], items[1])
            for i in range(2, len(items) - 1, 2):
                out = out.when(items[i], items[i + 1])
            return out.otherwise(items[-1])
        if name == "extract":
            # extract('regex', captureGroup, source) — the regex and
            # group are compile-time literals (they parameterize the JVM
            # regexp_extract, not row data)
            self.expect("(")
            rx = self.next()
            if rx.kind != "str":
                raise ValueError("KQL: extract() needs a string-literal regex")
            self.expect(",")
            grp = self.next()
            if grp.kind != "num":
                raise ValueError("KQL: extract() needs a literal capture group")
            self.expect(",")
            src = self.expr()
            self.expect(")")
            return F.regexp_extract(src, rx.text[1:-1], int(grp.text))
        if name == "substring":
            # substring(source, startIndex[, length]) — Kusto is 0-based,
            # Spark 1-based
            self.expect("(")
            src = self.expr()
            self.expect(",")
            start = self.expr()
            length = None
            if self.accept(","):
                length = self.expr()
            self.expect(")")
            if length is None:
                return F.substring(src, start + F.lit(1), F.lit(2**31 - 1))
            return F.substring(src, start + F.lit(1), length)
        if name == "strcat_array":
            # strcat_array(array, 'sep') — the separator must be a string
            # literal (array_join's delimiter is not a column)
            self.expect("(")
            arr = self.expr()
            self.expect(",")
            sep = self.next()
            if sep.kind != "str":
                raise ValueError(
                    "KQL: strcat_array() needs a string-literal separator"
                )
            self.expect(")")
            return F.array_join(arr, sep.text[1:-1])
        if name == "format_bytes":
            self.expect("(")
            size = self.expr()
            prec = 0
            if self.accept(","):
                t = self.next()
                if t.kind != "num" or "." in t.text:
                    raise ValueError(
                        "KQL: format_bytes precision must be an int literal"
                    )
                prec = int(t.text)
            self.expect(")")
            return _format_bytes(size, prec)
        if name == "geo_point_to_geohash":
            # precision must be an int LITERAL (it fixes the unrolled
            # bit-interleave width at compile time)
            self.expect("(")
            lon = self.expr()
            self.expect(",")
            lat = self.expr()
            prec = 5
            if self.accept(","):
                t = self.next()
                if t.kind != "num" or "." in t.text:
                    raise ValueError(
                        "KQL: geo_point_to_geohash precision must be an "
                        "int literal"
                    )
                prec = int(t.text)
            self.expect(")")
            return _geo_point_to_geohash(lon, lat, prec)
        if name == "geo_point_in_polygon":
            # geo_point_in_polygon(lon, lat, dynamic([[lon,lat],...]))
            # — the ring must be a compile-time dynamic literal (as in
            # Kusto, where the polygon is a constant of the query), so
            # the crossing-number test unrolls into one flat codegen
            # expression with the edge slopes pre-folded
            self.expect("(")
            lon = self.expr()
            self.expect(",")
            lat = self.expr()
            self.expect(",")
            if self.next().text.lower() != "dynamic":
                raise ValueError(
                    "KQL: geo_point_in_polygon ring must be a "
                    "dynamic([[lon,lat], ...]) literal"
                )
            self.expect("(")
            self.expect("[")
            ring: list[tuple[float, float]] = []
            while True:
                self.expect("[")
                pair: list[float] = []
                while True:
                    tok = self.next()
                    sign = 1.0
                    if tok.text == "-":
                        sign, tok = -1.0, self.next()
                    if tok.kind != "num":
                        raise ValueError(
                            "KQL: geo_point_in_polygon ring must hold "
                            "numeric literals"
                        )
                    pair.append(sign * float(tok.text))
                    if not self.accept(","):
                        break
                self.expect("]")
                if len(pair) != 2:
                    raise ValueError(
                        "KQL: geo_point_in_polygon ring vertices must "
                        "be [lon, lat] pairs"
                    )
                ring.append((pair[0], pair[1]))
                if not self.accept(","):
                    break
            self.expect("]")
            self.expect(")")
            self.expect(")")
            return _geo_point_in_polygon(lon, lat, ring)
        if name not in self._SCALARS:
            raise ValueError(f"KQL: unsupported function {name!r}")
        self.expect("(")
        args = []
        if not self.accept(")"):
            args.append(self.expr())
            while self.accept(","):
                args.append(self.expr())
            self.expect(")")
        return self._SCALARS[name](*args)

    # --- aggregate parsing for summarize ---

    def agg_item(self) -> Column:
        """[name =] fn([col]) — returns an aliased aggregate Column."""
        name = None
        t = self.next()
        if self.peek() and self.peek().text == "=":
            name = t.text
            self.next()
            t = self.next()
        fn = t.text.lower()
        if fn == "countif":
            # countif(pred): rows where pred holds — sum of an indicator,
            # so it partial-aggregates map-side like any sum
            self.expect("(")
            pred = self.expr()
            self.expect(")")
            agg = F.sum(F.when(pred, 1).otherwise(0)).cast("long")
            return agg.alias(name or "countif_")
        if fn == "sumif":
            self.expect("(")
            val = self.expr()
            self.expect(",")
            pred = self.expr()
            self.expect(")")
            return F.sum(F.when(pred, val)).alias(name or "sumif_")
        if fn == "dcountif":
            # dcountif(col, pred): distinct values of col on rows where
            # pred holds — countDistinct skips the WHEN's null else-arm,
            # so this stays ONE mergeable distinct aggregate
            self.expect("(")
            val = self.expr()
            self.expect(",")
            pred = self.expr()
            self.expect(")")
            return F.countDistinct(F.when(pred, val)).alias(
                name or "dcountif_"
            )
        if fn in ("avgif", "minif", "maxif"):
            # the remaining -if family: aggregate over rows where pred
            # holds — the WHEN's null else-arm is ignored by avg/min/
            # max, so each stays ONE mergeable aggregate (no second
            # pass, no join), the same lowering as sumif/dcountif
            self.expect("(")
            val = self.expr()
            self.expect(",")
            pred = self.expr()
            self.expect(")")
            base = {"avgif": F.avg, "minif": F.min, "maxif": F.max}[fn]
            return base(F.when(pred, val)).alias(name or f"{fn}_")
        if fn == "take_anyif":
            # take_anyif(col, pred) — deterministic refinement of
            # Kusto's arbitrary pick, same as take_any: the minimum
            # over rows where pred holds (WHEN's null else-arm is
            # ignored by min — one mergeable aggregate)
            self.expect("(")
            val = self.expr()
            self.expect(",")
            pred = self.expr()
            self.expect(")")
            return F.min(F.when(pred, val)).alias(name or "take_anyif_")
        if fn == "percentilew":
            # percentilew(col, weight, P) — exact weighted percentile,
            # nearest-rank contract: the smallest value whose running
            # cumulative weight (values ascending) reaches P% of the
            # group's total weight. Compiled to ONE sorted collect_list
            # + one JVM fold — no second shuffle, no window, no UDF.
            # SCALE NOTE: the per-group value list is materialized
            # (same bound the user accepts for make_list/percentile's
            # exact form); swap a weight-expanded percentile_approx at
            # 100 TB.
            self.expect("(")
            col = self.expr()
            self.expect(",")
            wt = self.expr()
            self.expect(",")
            ptok = self.next()
            if ptok.kind != "num":
                raise ValueError(
                    "KQL: percentilew() needs a literal percentile"
                )
            self.expect(")")
            p = float(ptok.text) / 100.0
            pairs = F.sort_array(
                F.collect_list(
                    F.struct(
                        col.cast("double").alias("v"),
                        wt.cast("double").alias("w"),
                    )
                )
            )
            thr = F.sum(wt.cast("double")) * F.lit(p)
            zero = F.struct(
                F.lit(0.0).alias("cum"),
                F.lit(None).cast("double").alias("ans"),
            )
            agg = F.aggregate(
                pairs,
                zero,
                lambda acc, x: F.struct(
                    (acc.getField("cum") + x.getField("w")).alias("cum"),
                    F.coalesce(
                        acc.getField("ans"),
                        F.when(
                            acc.getField("cum") + x.getField("w") >= thr,
                            x.getField("v"),
                        ),
                    ).alias("ans"),
                ),
                lambda acc: acc.getField("ans"),
            )
            return agg.alias(name or "percentilew_")
        if fn in ("arg_max", "arg_min"):
            # arg_max(toMaximize, toReturn): the returned expression of
            # the row maximizing the first — Spark's max_by/min_by
            # (a single mergeable struct-max, one shuffle, no window)
            self.expect("(")
            ordc = self.expr()
            self.expect(",")
            ret = self.expr()
            self.expect(")")
            agg = (F.max_by if fn == "arg_max" else F.min_by)(ret, ordc)
            return agg.alias(name or fn)
        if fn in ("make_list", "make_set"):
            self.expect("(")
            col = self.expr()
            self.expect(")")
            if fn == "make_set":
                # sorted for determinism: set order is partition-dependent
                # in any distributed engine (Kusto's is arbitrary too);
                # sorting is the only reproducible contract
                agg = F.sort_array(F.collect_set(col))
            else:
                agg = F.collect_list(col)
            return agg.alias(name or fn)
        if fn == "percentile":
            # percentile(col, P) with P in 0..100 — exact linear
            # interpolation (differential-gate form; swap in
            # percentile_approx's mergeable sketch at 100 TB scale)
            self.expect("(")
            col = self.expr()
            self.expect(",")
            ptok = self.next()
            if ptok.kind != "num":
                raise ValueError("KQL: percentile() needs a literal percentile")
            self.expect(")")
            p = float(ptok.text) / 100.0
            return F.percentile(col, p).alias(name or "percentile_")
        if fn == "percentiles_array":
            # percentiles_array(col, p1, p2, ...) — Kusto's multi-
            # percentile form, returned as ONE dynamic array (exact
            # linear interpolation; the single-pass sort is shared
            # across all requested percentiles)
            self.expect("(")
            col = self.expr()
            ps = []
            while self.accept(","):
                ptok = self.next()
                if ptok.kind != "num":
                    raise ValueError(
                        "KQL: percentiles_array() needs literal percentiles"
                    )
                ps.append(float(ptok.text) / 100.0)
            self.expect(")")
            if not ps:
                raise ValueError(
                    "KQL: percentiles_array() needs at least one percentile"
                )
            return F.percentile(
                col, F.array(*[F.lit(p) for p in ps])
            ).alias(name or "percentiles_")
        if fn not in _AGGS:
            raise ValueError(f"KQL: unsupported aggregate {fn!r}")
        self.expect("(")
        col = None
        default_alias = fn
        if not self.accept(")"):
            # full expression argument (sum(a * b), avg(iff(...)), …);
            # a bare identifier keeps the fn_col default alias
            t0 = self.peek()
            col = self.expr()
            if (
                t0 is not None
                and t0.kind == "word"
                and self.peek()
                and self.peek().text == ")"
                and self.toks[self.i - 1] is t0
            ):
                default_alias = f"{fn}_{t0.text}"
            else:
                default_alias = f"{fn}_"
            self.expect(")")
        agg = _AGGS[fn](col)
        return agg.alias(name or default_alias)

    def ident_list(self) -> list[str]:
        names = [self.next().text]
        while self.accept(","):
            names.append(self.next().text)
        return names

    def group_items(self) -> list[Column]:
        """summarize-by items: plain columns, or ``name = expr``
        (the KQL idiom for computed group keys, e.g.
        ``by t = bin(ts, 1h)``)."""
        items: list[Column] = []
        while True:
            t = self.next()
            if self.peek() and self.peek().text == "=":
                name = t.text
                self.next()
                items.append(self.expr().alias(name))
            else:
                self.i -= 1
                items.append(self.expr())
            if not self.accept(","):
                break
        return items


def _mask(src: str) -> str:
    """Replace quoted string literals with 'x' padding of equal length,
    so structural scans (pipes, parens, semicolons, commas) never trip
    on characters inside literals."""
    return re.sub(
        r"'(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\"",
        lambda m: "x" * len(m.group()),
        src,
    )


def _split_top(src: str, sep: str) -> list[str]:
    """Split ``src`` on ``sep`` at top level only: quoted literals are
    masked and paren depth is tracked, so a ``join ( Sub | ... )``
    subquery or a quoted pipe never splits a stage."""
    masked = _mask(src)
    parts, start, depth = [], 0, 0
    for i, ch in enumerate(masked):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == sep and depth == 0:
            parts.append(src[start:i])
            start = i + 1
    parts.append(src[start:])
    return [p.strip() for p in parts if p.strip()]


def _split_stages(src: str) -> list[str]:
    return _split_top(src, "|")


_JOIN_KINDS = {
    "inner": "inner",
    "innerunique": "inner",  # after left-side key dedup, below
    "leftouter": "left",
    "rightouter": "right",
    "fullouter": "full",
    "leftanti": "left_anti",
    "anti": "left_anti",
    "leftantisemi": "left_anti",
    "leftsemi": "left_semi",
    "rightsemi": "right_semi",  # emulated by swapping sides
    "rightanti": "right_anti",  # emulated by swapping sides
}


def _parse_rhs_and_keys(
    rest: str,
    tables: dict[str, DataFrame],
    now: str | None,
    lets: dict[str, object] | None,
) -> tuple[DataFrame, list[tuple[str, str]]]:
    """Parse ``( Subquery | ... ) on keys`` / ``T on keys`` — the right
    side and key list shared by ``join`` and ``lookup``. Keys are
    ``on col[, col...]`` or ``on $left.a == $right.b[, ...]``."""
    if rest.startswith("("):
        masked = _mask(rest)
        depth = 0
        end = -1
        for i, ch in enumerate(masked):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    end = i
                    break
        if end < 0:
            raise ValueError(f"KQL: unbalanced parens in join: {rest!r}")
        right = kql(rest[1:end].strip(), tables, now=now, _lets=lets)
        rest = rest[end + 1:].lstrip()
    else:
        m2 = re.match(r"[A-Za-z_]\w*", rest)
        if not m2 or m2.group() not in tables:
            raise ValueError(
                f"KQL: join right side must be a known table or a "
                f"parenthesized subquery, got {rest[:30]!r}"
            )
        right = tables[m2.group()]
        rest = rest[m2.end():].lstrip()

    if not re.match(r"on\b", rest, re.I):
        raise ValueError(f"KQL: join requires an 'on' clause: {rest!r}")
    keys: list[tuple[str, str]] = []
    for item in _split_top(rest[2:], ","):
        m3 = re.fullmatch(
            r"\$left\.([A-Za-z_]\w*)\s*==\s*\$right\.([A-Za-z_]\w*)", item
        )
        if m3:
            keys.append((m3.group(1), m3.group(2)))
        elif re.fullmatch(r"[A-Za-z_]\w*", item):
            keys.append((item, item))
        else:
            raise ValueError(f"KQL: cannot parse join key {item!r}")
    if not keys:
        raise ValueError("KQL: join needs at least one key")
    return right, keys


def _resolve_toscalar(
    stage: str,
    tables: dict[str, DataFrame],
    now: str | None,
    lets: dict[str, object],
) -> str:
    """Rewrite every ``toscalar(<sub-pipeline>)`` in a stage to a
    literal — Kusto's scalar-subquery bridge (``T | where amount >
    toscalar(T | summarize avg(amount))``). The sub-pipeline compiles
    through the ordinary pipeline compiler and is evaluated ONCE at
    compile time (a bounded collect: the contract is exactly one row,
    one column — anything else is an explicit error, as in Kusto); the
    value is substituted back as a typed literal, so the outer plan
    sees a constant — the same plan shape Catalyst produces for an
    uncorrelated scalar subquery, with the evaluation order made
    explicit. String-literal text is masked before matching, so a
    quoted 'toscalar(' never triggers."""
    out = stage
    while True:
        masked = _mask(out)
        m = re.search(r"\btoscalar\s*\(", masked)
        if not m:
            return out
        start = m.end() - 1
        depth, end = 0, -1
        for i in range(start, len(masked)):
            if masked[i] == "(":
                depth += 1
            elif masked[i] == ")":
                depth -= 1
                if depth == 0:
                    end = i
                    break
        if end < 0:
            raise ValueError("KQL: unbalanced toscalar(")
        inner = out[start + 1 : end].strip()
        df = kql(inner, tables, now=now, _lets=lets)
        rows = df.limit(2).collect()
        if len(rows) != 1 or len(df.columns) != 1:
            raise ValueError(
                "KQL: toscalar() needs a subquery returning exactly one "
                f"row and one column, got {len(df.columns)} column(s) / "
                f"{'>1' if len(rows) > 1 else len(rows)} row(s)"
            )
        v = rows[0][0]
        if v is None:
            raise ValueError("KQL: toscalar() subquery returned null")
        if isinstance(v, bool):
            lit = "true" if v else "false"
        elif isinstance(v, int):
            lit = str(v)
        elif isinstance(v, float):
            lit = f"todouble('{v!r}')"
        elif isinstance(v, str):
            esc = v.replace("\\", "\\\\").replace("'", "\\'")
            lit = f"'{esc}'"
        else:  # datetime and friends
            lit = f"todatetime('{v}')"
        out = out[: m.start()] + lit + out[end + 1 :]


def _compile_lookup(
    left: DataFrame,
    stage: str,
    tables: dict[str, DataFrame],
    now: str | None,
    lets: dict[str, object] | None = None,
) -> DataFrame:
    """``lookup [kind=leftouter|inner] (Dim) on keys`` — Kusto's
    dimension-table join. Differences from ``join`` are exactly Kusto's:
    the right side is a DIMENSION table (small by contract), the right
    key columns are not duplicated into the output, and only
    ``leftouter`` (default) / ``inner`` flavors exist.

    The dimension contract is also the scale contract, so the right side
    is explicitly broadcast: at 100 TB the fact side never shuffles —
    every executor gets the dim table and the lookup is a map-side hash
    probe. Name clashes on non-key columns raise (as in Kusto) rather
    than silently renaming."""
    m = re.match(r"lookup\b\s*(?:kind\s*=\s*([A-Za-z]+)\s*)?", stage, re.I)
    kind = (m.group(1) or "leftouter").lower()
    if kind not in ("leftouter", "inner"):
        raise ValueError(
            f"KQL: lookup supports kind=leftouter|inner, got {kind!r}"
        )
    right, keys = _parse_rhs_and_keys(stage[m.end():].lstrip(), tables, now, lets)
    right_keys = {rk for _, rk in keys}
    clashes = (set(right.columns) - right_keys) & set(left.columns)
    if clashes:
        raise ValueError(
            f"KQL: lookup right side re-defines columns {sorted(clashes)}; "
            f"project them away or rename first"
        )
    l, r = left.alias("__l"), right.alias("__r")
    cond = None
    for lk, rk in keys:
        c = F.col(f"__l.{lk}") == F.col(f"__r.{rk}")
        cond = c if cond is None else (cond & c)
    joined = l.join(
        F.broadcast(r), cond, "left" if kind == "leftouter" else "inner"
    )
    keep = [F.col(f"__l.{c}") for c in left.columns] + [
        F.col(f"__r.{c}") for c in right.columns if c not in right_keys
    ]
    return joined.select(*keep)


_TYPEOF = {
    "real": "double",
    "double": "double",
    "long": "long",
    "int": "int",
    "string": "string",
    "bool": "boolean",
    "datetime": "timestamp",
}


def _compile_mv_apply(
    df: DataFrame,
    stage: str,
    now: str | None,
    lets: dict[str, object] | None,
) -> DataFrame:
    """``mv-apply x = arrcol [to typeof(T)] on ( where ... [| where ...]
    [| summarize name = agg(expr), ...] )`` — Kusto's per-record
    sub-pipeline over a dynamic array.

    Spark-first compilation: the sub-pipeline never expands the array
    into rows. ``where`` stages become JVM ``filter()`` higher-order
    functions and ``summarize`` becomes ``aggregate``/``size``/
    ``array_min``/``array_max`` folds over the (filtered, transformed)
    array — the per-record grouping Kusto re-aggregates after its
    expansion is FREE here because the record never stopped being one
    row. Zero shuffle, zero explode for the summarize form; the
    where-only form is one ``explode`` followed by a row filter (still
    shuffle-free). At 100 TB this is the difference between a
    narrow map stage and exploding 64× the corpus through an exchange."""
    m = re.match(
        r"mv-apply\s+([A-Za-z_]\w*)\s*=\s*([A-Za-z_]\w*)\s*"
        r"(?:to\s+typeof\s*\(\s*([A-Za-z]+)\s*\)\s*)?on\s*\(",
        stage,
        re.I,
    )
    if not m:
        raise ValueError(
            "KQL: mv-apply needs 'x = arraycol [to typeof(T)] on (...)'"
        )
    var, srccol, ty = m.group(1), m.group(2), m.group(3)
    rest = stage[m.end() - 1:]
    masked = _mask(rest)
    depth, end = 0, -1
    for i, ch in enumerate(masked):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                end = i
                break
    if end < 0 or rest[end + 1:].strip():
        raise ValueError(f"KQL: malformed mv-apply 'on (...)': {stage!r}")
    body = rest[1:end].strip()

    arr = F.col(srccol)
    if ty:
        sty = _TYPEOF.get(ty.lower())
        if sty is None:
            raise ValueError(f"KQL: unsupported typeof({ty})")
        arr = F.transform(arr, lambda e: e.cast(sty))

    def elem_expr(text: str):
        # re-parse per call: the element Column is a higher-order-function
        # lambda variable, which exists only inside that lambda
        return lambda e: _Parser(
            _tokenize(text), now=now, lets=lets, vars={var: e}
        ).expr()

    sub_stages = [s.strip() for s in _split_top(body, "|")]
    summarize_text = None
    wheres = []
    for si, sub in enumerate(sub_stages):
        head = re.match(r"[A-Za-z_]\w*", sub)
        verb = head.group().lower() if head else ""
        if verb == "where":
            wheres.append(sub[head.end():])
        elif verb == "summarize":
            if si != len(sub_stages) - 1:
                raise ValueError(
                    "KQL: mv-apply summarize must be the last sub-stage"
                )
            summarize_text = sub[head.end():]
        else:
            raise ValueError(
                f"KQL: mv-apply sub-pipeline supports where/summarize, "
                f"got {sub[:30]!r}"
            )

    if summarize_text is None:
        # filter the exploded rows, not the array: a kernel's SQL
        # function may sit in a Filter but not in a higher-order
        # function's lambda or a Generate
        out = df.withColumn(var, F.explode(arr))
        for text in wheres:
            out = out.filter(elem_expr(text)(F.col(var)))
        return out

    for text in wheres:
        arr = F.filter(arr, elem_expr(text))
    out = df
    for item in _split_top(summarize_text, ","):
        mi = re.fullmatch(
            r"(?:([A-Za-z_]\w*)\s*=\s*)?([A-Za-z_]\w*)\s*\((.*)\)", item.strip()
        )
        if not mi:
            raise ValueError(f"KQL: cannot parse mv-apply aggregate {item!r}")
        name, fn, argtext = mi.group(1), mi.group(2).lower(), mi.group(3).strip()
        if fn == "count":
            if argtext:
                raise ValueError("KQL: mv-apply count() takes no argument")
            col = F.size(arr).cast("long")
            name = name or "count_"
        else:
            if not argtext:
                raise ValueError(f"KQL: mv-apply {fn}() needs an argument")
            vals = F.transform(arr, elem_expr(argtext))
            dsum = F.aggregate(
                vals, F.lit(0.0), lambda a, x: a + x.cast("double")
            )
            nonempty = F.size(vals) > 0
            if fn == "sum":
                col = dsum
            elif fn == "avg":
                col = F.when(nonempty, dsum / F.size(vals))
            elif fn == "min":
                col = F.array_min(vals)
            elif fn == "max":
                col = F.array_max(vals)
            else:
                raise ValueError(
                    f"KQL: mv-apply supports count/sum/avg/min/max, got {fn!r}"
                )
            name = name or (
                f"{fn}_{argtext}" if re.fullmatch(r"\w+", argtext) else f"{fn}_"
            )
        out = out.withColumn(name, col)
    return out


def _compile_join(
    left: DataFrame,
    stage: str,
    tables: dict[str, DataFrame],
    now: str | None,
    lets: dict[str, object] | None = None,
) -> DataFrame:
    """``join [kind=K] ( Subquery | ... ) on keys`` / ``join T on keys``.

    Kusto semantics preserved:
    - default flavor is ``innerunique`` — the LEFT side is deduplicated
      on the join keys before an inner join (which record survives is
      arbitrary, as in Kusto; use an explicit ``kind=`` for
      deterministic results);
    - right-side columns whose names clash with left-side columns
      (join keys included) are renamed with a ``1`` suffix;
    - keys are ``on col[, col...]`` or ``on $left.a == $right.b[, ...]``.

    Compiles to a plain DataFrame equi-join, so Catalyst still picks
    the physical strategy (broadcast for a small right side, sort-merge
    otherwise) — the KQL front end adds no execution of its own.

    ``hint.strategy = broadcast`` / ``= shuffle`` (Kusto's join
    strategy hints) lower to Spark's own advisory join hints on the
    sub-pipeline side — ``broadcast()`` / ``hint("shuffle_hash")`` —
    so they steer the physical pick without forcing an illegal plan
    (Catalyst ignores a hint it cannot honor, e.g. broadcasting the
    stream side of a left-semi after a rightsemi swap, exactly as
    Kusto treats the hint as advisory)."""
    m = re.match(
        r"join\b((?:\s*(?:kind|hint\.(?:strategy))\s*=\s*[A-Za-z_]\w*)*)\s*",
        stage,
        re.I,
    )
    kind, strategy = "innerunique", None
    for hname, hval in re.findall(
        r"(kind|hint\.strategy)\s*=\s*([A-Za-z_]\w*)", m.group(1), re.I
    ):
        if hname.lower() == "kind":
            kind = hval.lower()
        else:
            strategy = hval.lower()
            if strategy not in ("broadcast", "shuffle"):
                raise ValueError(
                    f"KQL: unsupported join hint.strategy {hval!r}"
                )
    if kind not in _JOIN_KINDS:
        raise ValueError(f"KQL: unsupported join kind {kind!r}")
    right, keys = _parse_rhs_and_keys(stage[m.end():].lstrip(), tables, now, lets)
    if strategy == "broadcast":
        right = F.broadcast(right)
    elif strategy == "shuffle":
        right = right.hint("shuffle_hash")

    if kind == "innerunique":
        left = left.dropDuplicates([lk for lk, _ in keys])
    swap = kind in ("rightsemi", "rightanti")
    if swap:
        left, right = right, left
        keys = [(rk, lk) for lk, rk in keys]
        spark_kind = {"rightsemi": "left_semi", "rightanti": "left_anti"}[kind]
    else:
        spark_kind = _JOIN_KINDS[kind]

    if spark_kind in ("left_semi", "left_anti"):
        l, r = left.alias("__l"), right.alias("__r")
        cond = None
        for lk, rk in keys:
            c = F.col(f"__l.{lk}") == F.col(f"__r.{rk}")
            cond = c if cond is None else (cond & c)
        return l.join(r, cond, spark_kind)

    # Kusto column naming: right columns clashing with left get a '1'
    # suffix (join keys included)
    taken = set(left.columns)
    renamed = {}
    right2 = right
    for c in right.columns:
        if c in taken:
            new = c + "1"
            while new in taken or new in right2.columns:
                new += "1"
            right2 = right2.withColumnRenamed(c, new)
            renamed[c] = new
    l, r = left.alias("__l"), right2.alias("__r")
    cond = None
    for lk, rk in keys:
        c = F.col(f"__l.{lk}") == F.col(f"__r.{renamed.get(rk, rk)}")
        cond = c if cond is None else (cond & c)
    return l.join(r, cond, spark_kind)


def _session(tables: dict[str, DataFrame]):
    if tables:
        return next(iter(tables.values())).sparkSession
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        raise ValueError("KQL: no table bindings and no active SparkSession")
    return spark


def _compile_source(
    stage: str,
    tables: dict[str, DataFrame],
    now: str | None,
    lets: dict[str, object] | None,
) -> DataFrame:
    """Tabular source operators that generate rows instead of reading a
    binding: ``print``, ``range``, ``datatable``.

    - ``print [name =] expr, ...`` — one row of computed scalars.
    - ``range x from a to b step s`` — inclusive arithmetic sequence
      (numeric, or datetime with a duration step). Compiles to
      ``spark.range(n)`` + affine projection: the sequence is
      GENERATED per-partition on executors, never materialized on the
      driver, so a billion-row range is a parallel source, not a
      literal.
    - ``datatable (name: type, ...) [v, v, ...]`` — inline literal
      table (driver-side by definition; bounded by the query text).
    - ``externaldata (name: type, ...) ['path', ...] with
      (format='parquet'|'csv'|'json' [, header=true])`` — Kusto's
      external-file source mapped onto ``spark.read``: the declared
      schema is authoritative (csv/json read WITH it — no inference
      job; parquet projects/casts onto it), multiple paths union, and
      the scan is a fully parallel distributed source with the usual
      pushdown/pruning (Kusto reads blob URLs; any Hadoop-compatible
      URI works here)."""
    spark = _session(tables)
    p = _Parser(_tokenize(stage), now=now, lets=lets)
    verb = p.next().text.lower()
    if verb == "externaldata":
        p.expect("(")
        names: list[str] = []
        types: list[str] = []
        while True:
            names.append(p.next().text)
            p.expect(":")
            ty = p.next().text.lower()
            if ty not in _TYPEOF:
                raise ValueError(f"KQL: unsupported externaldata type {ty!r}")
            types.append(_TYPEOF[ty])
            if not p.accept(","):
                break
        p.expect(")")
        p.expect("[")
        paths: list[str] = []
        while not p.accept("]"):
            t = p.next()
            if t.kind != "str":
                raise ValueError(
                    f"KQL: externaldata path must be a string literal, "
                    f"got {t.text!r}"
                )
            paths.append(t.text[1:-1])
            p.accept(",")
        if not paths:
            raise ValueError("KQL: externaldata needs at least one path")
        fmt, header = "csv", False
        if p.peek() is not None and p.peek().text.lower() == "with":
            p.next()
            p.expect("(")
            while True:
                key = p.next().text.lower()
                p.expect("=")
                val = p.next()
                sval = (
                    val.text[1:-1] if val.kind == "str" else val.text.lower()
                )
                if key == "format":
                    fmt = sval.lower()
                elif key == "header":
                    header = sval == "true"
                else:
                    raise ValueError(
                        f"KQL: unsupported externaldata option {key!r}"
                    )
                if not p.accept(","):
                    break
            p.expect(")")
        schema = ", ".join(f"`{n}` {t}" for n, t in zip(names, types))
        if fmt == "parquet":
            raw = spark.read.parquet(*paths)
            missing = [n for n in names if n not in raw.columns]
            if missing:
                raise ValueError(
                    f"KQL: externaldata parquet lacks columns {missing}"
                )
            return raw.select(
                *[F.col(n).cast(t).alias(n) for n, t in zip(names, types)]
            )
        if fmt == "csv":
            return spark.read.schema(schema).option(
                "header", str(header).lower()
            ).csv(*paths)
        if fmt == "json":
            return spark.read.schema(schema).json(*paths)
        raise ValueError(f"KQL: unsupported externaldata format {fmt!r}")
    if verb == "print":
        cols = []
        while True:
            name = None
            t = p.peek()
            if (
                t is not None
                and t.kind == "word"
                and p.toks[p.i + 1 : p.i + 2]
                and p.toks[p.i + 1].text == "="
            ):
                name = p.next().text
                p.next()
            cols.append(p.expr().alias(name or f"print_{len(cols)}"))
            if not p.accept(","):
                break
        return spark.range(1).select(*cols)
    if verb == "range":
        name = p.next().text
        if p.next().text.lower() != "from":
            raise ValueError("KQL: range needs 'from'")
        t0 = p.peek()
        if t0 is not None and (
            t0.kind == "str" or t0.text.lower() == "datetime"
        ):
            start_s = p._datetime_literal()
            if p.next().text.lower() != "to":
                raise ValueError("KQL: range needs 'to'")
            end_s = p._datetime_literal()
            if p.next().text.lower() != "step":
                raise ValueError("KQL: range needs 'step'")
            st = p.next()
            if st.kind != "dur":
                raise ValueError("KQL: datetime range needs a duration step")
            secs = int(p._duration_seconds(st.text))
            from datetime import datetime, timezone

            a = int(
                datetime.fromisoformat(start_s)
                .replace(tzinfo=timezone.utc)
                .timestamp()
            )
            b = int(
                datetime.fromisoformat(end_s)
                .replace(tzinfo=timezone.utc)
                .timestamp()
            )
            n = max(0, (b - a) // secs + 1)
            return spark.range(n).select(
                F.timestamp_seconds(F.lit(a) + F.col("id") * F.lit(secs)).alias(
                    name
                )
            )
        a = p._literal_value()
        if p.next().text.lower() != "to":
            raise ValueError("KQL: range needs 'to'")
        b = p._literal_value()
        if p.next().text.lower() != "step":
            raise ValueError("KQL: range needs 'step'")
        s = p._literal_value()
        if s <= 0:
            raise ValueError("KQL: range step must be positive")
        n = max(0, int((b - a) // s) + 1)
        out = spark.range(n).select(
            (F.lit(a) + F.col("id") * F.lit(s)).alias(name)
        )
        return out
    # datatable (name: type, ...) [ v1, v2, ... ]
    p.expect("(")
    names: list[str] = []
    types: list[str] = []
    while True:
        names.append(p.next().text)
        p.expect(":")
        ty = p.next().text.lower()
        if ty not in _TYPEOF:
            raise ValueError(f"KQL: unsupported datatable type {ty!r}")
        types.append(_TYPEOF[ty])
        if not p.accept(","):
            break
    p.expect(")")
    p.expect("[")
    vals: list[object] = []
    while not p.accept("]"):
        neg = p.accept("-")
        t = p.next()
        if t.kind == "num":
            v = float(t.text) if "." in t.text else int(t.text)
            vals.append(-v if neg else v)
        elif neg:
            raise ValueError("KQL: '-' only precedes numeric datatable literals")
        elif t.kind == "str":
            vals.append(t.text[1:-1])
        elif t.kind == "word" and t.text.lower() in ("true", "false"):
            vals.append(t.text.lower() == "true")
        elif t.kind == "word" and t.text.lower() == "datetime":
            p.expect("(")
            inner = p.next()
            p.expect(")")
            vals.append(inner.text[1:-1])
        else:
            raise ValueError(f"KQL: datatable literal expected, got {t.text!r}")
        p.accept(",")
    if len(vals) % len(names) != 0:
        raise ValueError(
            f"KQL: datatable has {len(vals)} values for {len(names)} columns"
        )

    def coerce(v, t):
        if v is None:
            return None
        if t == "double":
            return float(v)
        if t in ("int", "long"):
            return int(v)
        if t == "boolean":
            return bool(v)
        return str(v)

    rows = [
        tuple(
            coerce(v, t)
            for v, t in zip(vals[i : i + len(names)], types)
        )
        for i in range(0, len(vals), len(names))
    ]
    schema = ", ".join(
        f"{n} {'string' if t == 'timestamp' else t}"
        for n, t in zip(names, types)
    )
    df = spark.createDataFrame(rows, schema)
    for n, t in zip(names, types):
        if t == "timestamp":
            df = df.withColumn(n, F.col(n).cast("timestamp"))
    return df


def _compile_scan(
    df: DataFrame,
    keycol: str,
    sort_names: list[str],
    sort_asc: list[bool],
    steps: list,
    match_col: str = "match_id",
) -> DataFrame:
    """Execute `partition by key ( sort by ... | scan ... )`.

    The step predicates are Catalyst Columns — they are evaluated
    JVM-side into boolean marker columns BEFORE the Python boundary, so
    the Arrow automaton below never re-implements expression semantics:
    it reads pre-computed booleans and walks the greedy single-sequence
    state machine over each key's sorted rows (advance on the next
    step's predicate; on completing the last step, emit and reset).
    Matched rows are emitted with the step name and a per-key sequence
    ordinal.

    Scale shape: one hash shuffle on the partition key, then ONE
    Arrow pass per task (mapInPandas over key-sorted partitions), not
    one pandas group per key: a groupBy().applyInPandas walk pays
    per-group pandas materialization (~0.2 ms x n_keys — measured
    ~2x the whole entry's runtime at 30k keys/600k rows, the round-9
    k54 bench regression), while the per-partition automaton carries
    (key, state, ordinal) across Arrow batches and does a few list
    appends per row. State is O(1) per key during the walk. The
    sequential dependency is intrinsic to scan's semantics (Kusto
    serializes it too) — the partition wrapper is what makes it
    parallel across keys."""
    import pandas as pd  # noqa: F401 — executor-side

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    n_steps = len(steps)
    step_names = [s[0] for s in steps]
    pred_cols = [f"__kql_scan_p{i}" for i in range(n_steps)]
    aug = df
    for c, (_, pred) in zip(pred_cols, steps):
        aug = aug.withColumn(c, pred)
    out_cols = list(df.columns)
    schema = StructType(
        list(df.schema.fields)
        + [StructField("step", StringType()), StructField(match_col, LongType())]
    )

    def walk(batches):
        # one automaton per task: partitions arrive key-grouped and
        # (key, sort...) ordered, so a key change resets the state and
        # the (key, state, ordinal) triple carries across Arrow batch
        # boundaries — no per-key pandas objects are ever built.
        prev_key, prev_na = object(), False  # sentinel: != any real key
        cur, seq = 0, 0
        for pdf in batches:
            keys = pdf[keycol].to_numpy()
            nas = pdf[keycol].isna().to_numpy()
            preds = [pdf[c].to_numpy() for c in pred_cols]
            idx, names, mids = [], [], []
            for i in range(len(pdf)):
                k, na = keys[i], bool(nas[i])
                if not (na and prev_na) and (na != prev_na or k != prev_key):
                    prev_key, prev_na = k, na
                    cur, seq = 0, 0
                if cur < n_steps and bool(preds[cur][i]):
                    if cur == 0:
                        seq += 1
                    idx.append(i)
                    names.append(step_names[cur])
                    mids.append(seq)
                    cur += 1
                    if cur == n_steps:
                        cur = 0
            out = pdf.iloc[idx][out_cols].copy()
            out["step"] = names
            out[match_col] = mids
            yield out

    sort_cols = [F.col(keycol).asc()] + [
        F.col(n).asc() if a else F.col(n).desc()
        for n, a in zip(sort_names, sort_asc)
    ]
    return (
        aug.repartition(keycol)
        .sortWithinPartitions(*sort_cols)
        .mapInPandas(walk, schema)
    )


def _compile_sequence_detect(
    df: DataFrame,
    ts_col: str,
    step_win_s: float,
    span_win_s: float,
    flags: list[str],
    keys: list[str],
) -> DataFrame:
    """``evaluate sequence_detect(ts, stepWin, spanWin, f1, .., key)``
    — Kusto's sequence-detection plugin over pre-computed boolean flag
    columns (extend them first, Kusto's own usage shape): per key,
    events sorted by time, a greedy non-overlapping automaton matches
    f1 then f2 ... where each step arrives within ``stepWin`` of the
    previous matched step and within ``spanWin`` of the first; one
    output row per completed sequence carrying the per-step
    timestamps (``<flag>_ts`` columns, Kusto's output shape).

    Pinned subset (documented divergences): flags are boolean COLUMNS
    (Kusto also allows inline exprs — extend first); a row matching
    the next flag OUTSIDE a window aborts the in-progress sequence and
    is immediately reconsidered as a fresh first step.

    Scale shape: same as scan (k54's rewrite) — flags are Catalyst
    expressions evaluated JVM-side before the boundary; ONE hash
    shuffle on the key, ONE mapInPandas pass per task carrying
    (key, state, stamps) across Arrow batches; per-row Python is a
    few comparisons. Window arithmetic is numpy datetime64."""
    import numpy as np
    import pandas as pd  # noqa: F401 — executor-side

    from pyspark.sql.types import StructField, StructType, TimestampType

    n = len(flags)
    out_fields = [df.schema[k] for k in keys] + [
        StructField(f"{f}_ts", TimestampType()) for f in flags
    ]
    schema = StructType(out_fields)
    step_td = np.timedelta64(int(step_win_s * 1_000_000), "us")
    span_td = np.timedelta64(int(span_win_s * 1_000_000), "us")

    def walk(batches):
        prev_key = object()
        cur, t1, tprev, stamps = 0, None, None, []
        for pdf in batches:
            karr = [pdf[k].to_numpy() for k in keys]
            tarr = pdf[ts_col].to_numpy().astype("datetime64[us]")
            farr = [pdf[f].to_numpy() for f in flags]
            rows = []
            for i in range(len(pdf)):
                kt = tuple(x[i] for x in karr)
                if kt != prev_key:
                    prev_key = kt
                    cur, t1, tprev, stamps = 0, None, None, []
                t = tarr[i]
                for _retry in (0, 1):
                    if not bool(farr[cur][i]):
                        break
                    if cur > 0 and (
                        t - tprev > step_td or t - t1 > span_td
                    ):
                        # window blown: abort, retest this row as f1
                        cur, t1, tprev, stamps = 0, None, None, []
                        continue
                    stamps.append(t)
                    if cur == 0:
                        t1 = t
                    tprev = t
                    cur += 1
                    if cur == n:
                        rows.append(kt + tuple(stamps))
                        cur, t1, tprev, stamps = 0, None, None, []
                    break
            out = pd.DataFrame(
                rows, columns=[f.name for f in out_fields]
            )
            if not rows:  # keep Arrow types stable on empty batches
                out = out.astype(
                    {f"{f}_ts": "datetime64[us]" for f in flags}
                )
            yield out

    # Deterministic tie-break for per-key duplicate timestamps: the
    # automaton's matches depend on row order, so (keys, ts) alone is
    # nondeterministic when two events share a stamp. Break ties on
    # event_id when present (matching the k72/s51 oracles' ORDER BY
    # ts, event_id), then on every remaining column by name — fully
    # deterministic on any fixture.
    tie = [c for c in df.columns if c not in keys and c != ts_col]
    tie.sort(key=lambda c: (c != "event_id", c))
    sort_cols = (
        [F.col(k).asc() for k in keys]
        + [F.col(ts_col).asc()]
        + [F.col(c).asc() for c in tie]
    )
    return (
        df.repartition(*[F.col(k) for k in keys])
        .sortWithinPartitions(*sort_cols)
        .mapInPandas(walk, schema)
    )


_ESCAPES = {"n": "\n", "t": "\t", "r": "\r", "'": "'", '"': '"', "\\": "\\"}


def _unescape_string_literal(tok_text: str) -> str:
    """Decode a quoted string token into its value — **used ONLY by
    the python() plugin**, the single consumer whose literal is a
    program handed to ``compile()``. Every other string consumer in
    this compiler uses the raw source slice (verbatim-``@"..."``
    semantics); see the fork contract documented at ``_TOKEN_RE``
    before adding a second caller. Kusto's escape set for quoted
    literals: \\n \\t \\r \\' \\" \\\\; an unknown escape keeps the
    backslash verbatim (lenient, matching how the rest of this
    compiler treats raw slices)."""
    body = tok_text[1:-1]
    out: list[str] = []
    i = 0
    while i < len(body):
        c = body[i]
        if c == "\\" and i + 1 < len(body):
            nxt = body[i + 1]
            if nxt in _ESCAPES:
                out.append(_ESCAPES[nxt])
                i += 2
                continue
        out.append(c)
        i += 1
    return "".join(out)


_PY_PLUGIN_TYPES = {
    "long": ("bigint", "int64"),
    "int": ("int", "int32"),
    "real": ("double", "float64"),
    "string": ("string", None),
    "bool": ("boolean", "bool"),
    "datetime": ("timestamp", None),
}


def _compile_python_plugin(
    df: DataFrame, star: bool, fields: list[tuple[str, str]], script: str
) -> DataFrame:
    """``evaluate python(typeof(...), 'script')`` — see the parser
    block for the pinned contract. The script is compiled ONCE on the
    driver (syntax errors surface at plan time, not mid-job); each
    task execs it once over the concatenated partition frame with
    ``df``/``np``/``pd`` bound, and must assign a pandas DataFrame to
    ``result`` carrying every typeof() column. Declared numeric/bool
    columns are astype-coerced so the Arrow writer never guesses.

    Scale shape: the partition must fit in executor memory as ONE
    pandas frame — the same bound Kusto's sandbox places on a shard;
    size partitions accordingly (maxPartitionBytes / repartition). No
    shuffle is introduced; row order is not preserved (serialized
    order resets, as after any plugin)."""
    from pyspark.sql import types as ST

    out_fields: list[ST.StructField] = []
    coerce: dict[str, str] = {}
    if star:
        out_fields.extend(df.schema.fields)
    for fname, ftyp in fields:
        if ftyp not in _PY_PLUGIN_TYPES:
            raise ValueError(
                f"KQL: evaluate python() unsupported type {ftyp!r} "
                f"(supported: {sorted(_PY_PLUGIN_TYPES)})"
            )
        if any(f.name == fname for f in out_fields):
            raise ValueError(
                f"KQL: evaluate python() output column {fname!r} "
                "collides with an input column kept by typeof(*)"
            )
        sql_t, pd_t = _PY_PLUGIN_TYPES[ftyp]
        spark_t = {
            "bigint": ST.LongType(),
            "int": ST.IntegerType(),
            "double": ST.DoubleType(),
            "string": ST.StringType(),
            "boolean": ST.BooleanType(),
            "timestamp": ST.TimestampType(),
        }[sql_t]
        out_fields.append(ST.StructField(fname, spark_t))
        if pd_t is not None:
            coerce[fname] = pd_t
    if not out_fields:
        raise ValueError("KQL: evaluate python() typeof() is empty")
    schema = ST.StructType(out_fields)
    names = [f.name for f in out_fields]
    code = compile(script, "<kql-evaluate-python>", "exec")

    def run(batches):
        import numpy as np
        import pandas as pd

        parts = list(batches)
        if not parts:
            return
        pdf = parts[0] if len(parts) == 1 else pd.concat(parts)
        ns = {"df": pdf, "np": np, "pd": pd, "result": None}
        exec(code, ns)  # noqa: S102 — engine feature: Kusto python() parity
        res = ns.get("result")
        if not isinstance(res, pd.DataFrame):
            raise ValueError(
                "KQL: evaluate python() script must assign a pandas "
                "DataFrame to `result`"
            )
        missing = [c for c in names if c not in res.columns]
        if missing:
            raise ValueError(
                f"KQL: evaluate python() result is missing declared "
                f"column(s) {missing}"
            )
        out = res[names].copy() if coerce else res[names]
        for c, dt in coerce.items():
            out[c] = out[c].astype(dt)
        yield out

    return df.mapInPandas(run, schema)


def _compile_funnel_sequence(
    df: DataFrame,
    id_col: str,
    ts_col: str,
    bin_s: float,
    state_col: str,
    states: list[str],
) -> DataFrame:
    """``evaluate funnel_sequence(id, ts, bin, state, ('s1', ...))`` —
    Kusto's funnel plugin, pinned to its core question: how many
    distinct ids executed the state sequence IN ORDER (not necessarily
    adjacent), bucketed by the period of each id's earliest completed
    start. Matching is earliest-completion greedy: t1 = min ts with
    state s1; t_j = min ts > t_{j-1} with state s_j. Output
    (period, ids), Kusto's headline table (the prev/next-state
    distribution tables are out of this subset).

    Scale shape: pure Catalyst — one conditional MIN aggregate per
    step over the id key (k co-partitioned shuffles, no Python, no
    window over the full stream); each step's join input shrinks to
    the survivors of the previous step."""
    if bin_s < 1:
        # int(bin_s) would truncate to 0 and the period division
        # silently yields null (non-ANSI) — sub-second bins are
        # outside this integer-seconds period arithmetic.
        raise ValueError(
            "KQL funnel_sequence: bin must be >= 1 second "
            f"(got {bin_s!r}); sub-second bins are not supported"
        )
    cur = (
        df.filter(F.col(state_col) == states[0])
        .groupBy(id_col)
        .agg(F.min(ts_col).alias("__t1"))
    )
    prev_t = "__t1"
    for j, s in enumerate(states[1:], start=2):
        step = df.filter(F.col(state_col) == s).select(
            id_col, F.col(ts_col).alias("__ts")
        )
        cur = (
            step.join(cur, id_col)
            .filter(F.col("__ts") > F.col(prev_t))
            .groupBy(id_col, "__t1")
            .agg(F.min("__ts").alias(f"__t{j}"))
        )
        prev_t = f"__t{j}"
    period = F.timestamp_seconds(
        (F.unix_timestamp("__t1") / F.lit(int(bin_s))).cast("bigint")
        * F.lit(int(bin_s))
    )
    return (
        cur.select(period.alias("period"))
        .groupBy("period")
        .agg(F.count("*").cast("long").alias("ids"))
        .orderBy("period")
    )


def _compile_funnel_completion(
    df: DataFrame,
    id_col: str,
    ts_col: str,
    bin_s: float,
    state_col: str,
    states: list[str],
    windows_s: list[float],
) -> DataFrame:
    """``evaluate funnel_sequence_completion(id, ts, bin, state,
    ('s1', ...), (w1, w2, ...))`` — the k71 funnel's completion form:
    for every period bin (of each id's earliest sequence start), every
    sequence STEP, and every comparison window w, the count of ids
    that completed that step within w of their start. Matching is the
    same earliest-completion cascade as funnel_sequence; each step's
    survivor table is RETAINED (k71 only keeps the final one), unioned
    with the step name, fanned by the literal window list, and rolled
    up once. Completion time compares in MICROSECONDS on both engines
    (unix_micros here, epoch_us in the oracle) so sub-second
    timestamps never misclassify a boundary.

    Scale shape: pure Catalyst — one conditional MIN per step on the
    id key, a |windows| literal fan (bounded by the query text), ONE
    final map-side-combined rollup; no Python, no stream-wide window."""
    if bin_s < 1:
        raise ValueError(
            "KQL funnel_sequence_completion: bin must be >= 1 second "
            f"(got {bin_s!r})"
        )
    cur = (
        df.filter(F.col(state_col) == states[0])
        .groupBy(id_col)
        .agg(F.min(ts_col).alias("__t1"))
    )
    stages = [
        cur.select(
            id_col, "__t1",
            F.lit(states[0]).alias("__step"),
            F.col("__t1").alias("__tj"),
            F.lit(1).alias("__ord"),
        )
    ]
    prev_t = "__t1"
    for j, s in enumerate(states[1:], start=2):
        step = df.filter(F.col(state_col) == s).select(
            id_col, F.col(ts_col).alias("__ts")
        )
        cur = (
            step.join(cur, id_col)
            .filter(F.col("__ts") > F.col(prev_t))
            .groupBy(id_col, "__t1")
            .agg(F.min("__ts").alias(f"__t{j}"))
        )
        prev_t = f"__t{j}"
        stages.append(
            cur.select(
                id_col, "__t1",
                F.lit(s).alias("__step"),
                F.col(prev_t).alias("__tj"),
                F.lit(j).alias("__ord"),
            )
        )
    steps = _reduce(lambda a, b: a.unionByName(b), stages)
    wins = F.array(*[F.lit(int(w)).cast("long") for w in windows_s])
    fanned = steps.withColumn("__w", F.explode(wins)).filter(
        F.unix_micros("__tj") - F.unix_micros("__t1")
        <= F.col("__w") * F.lit(1_000_000)
    )
    period = F.timestamp_seconds(
        (F.unix_timestamp("__t1") / F.lit(int(bin_s))).cast("bigint")
        * F.lit(int(bin_s))
    )
    return (
        fanned.select(
            period.alias("period"),
            F.col("__step").alias("step"),
            F.col("__w").alias("window_s"),
        )
        .groupBy("period", "step", "window_s")
        .agg(F.count("*").cast("long").alias("ids"))
    )


def _require_string_attrs(df: DataFrame, plugin: str) -> None:
    """The segmentation plugins mine attribute VALUES: every column of
    ``df`` must be a string."""
    non_str = [c for c, t in df.dtypes if t != "string"]
    if non_str:
        raise ValueError(
            f"KQL: {plugin} needs string attribute columns; project/"
            f"tostring first (non-string: {non_str})"
        )


def _itemsets(df: DataFrame, cols: list[str], *carry: Column) -> DataFrame:
    """The candidate itemsets of the segmentation plugins (basket,
    autocluster, diffpatterns): each row of ``df`` emits one copy per
    size-1 and size-2 subset of ``cols``, the other attributes masked
    to null, plus the ``carry`` columns unmasked. A null value never
    forms an itemset (masking would conflate "null value" with "not in
    the itemset")."""
    k = len(cols)
    subsets = [(i,) for i in range(k)] + [
        (i, j) for i in range(k) for j in range(i + 1, k)
    ]

    def masked(sub: tuple) -> Column:
        struct = F.struct(
            *[
                (F.col(c) if i in sub else F.lit(None).cast("string")).alias(c)
                for i, c in enumerate(cols)
            ],
            *carry,
        )
        nonnull = _reduce(
            lambda a, b: a & b, [F.col(cols[i]).isNotNull() for i in sub]
        )
        return F.when(nonnull, struct)

    return (
        df.select(F.explode(F.array(*[masked(s) for s in subsets])).alias("b"))
        .filter(F.col("b").isNotNull())
        .select("b.*")
    )


def _compile_basket(df: DataFrame, threshold: float) -> DataFrame:
    """``evaluate basket(threshold)`` — frequent attribute-combination
    mining over the piped table's (string) columns, Kusto's
    segmentation plugin. This engine's pinned subset: itemsets of size
    1 and 2, EXACT counts (Kusto's plugin approximates the full
    lattice with Apriori sampling; depth-2-exact is the deterministic,
    oracle-checkable contract — project the attribute columns first,
    as basket users do anyway). Output shape follows Kusto: one row
    per frequent itemset with the member attribute values filled and
    the rest null, plus Count and Percent.

    Scale shape: each row emits its k + C(k,2) masked copies
    (JVM-generated struct array, exploded — linear blowup bounded by
    the attribute count, never by cardinality), then ONE
    map-side-combined groupBy over all itemsets at once; the only
    other job is a bounded COUNT(*) for the support floor. Null
    attribute values never form itemsets (masking would conflate
    "null value" with "not in basket")."""
    if not 0 < threshold <= 1:
        raise ValueError("KQL: basket threshold must be in (0, 1]")
    cols = df.columns
    _require_string_attrs(df, "basket")
    if len(cols) < 2:
        raise ValueError("KQL: basket needs at least two columns")
    total = df.count()  # bounded: one scalar, the support denominator
    min_count = math.ceil(threshold * total)
    out = (
        _itemsets(df, cols)
        .groupBy(*cols)
        .agg(F.count("*").alias("Count"))
        .filter(F.col("Count") >= F.lit(min_count))
        .withColumn(
            "Percent",
            F.round(F.col("Count") / F.lit(float(total)) * 100, 4),
        )
    )
    return out.orderBy(F.desc("Count"), *cols)


def _compile_autocluster(df: DataFrame, size_weight: float) -> DataFrame:
    """``evaluate autocluster([size_weight])`` — Kusto's segmentation
    plugin: attribute-subset patterns ("segments") that cover a large
    share of the piped rows, trading segment SIZE against
    INFORMATIVENESS (number of set attributes). Kusto's implementation
    is a seeded heuristic search; this engine's pinned deterministic
    contract (same spirit as basket's depth-2-exact pin):

    - candidate segments = all size-1 and size-2 attribute-value
      itemsets over the (string) columns, EXACT counts, null values
      never form segments;
    - support floor: Percent >= 10 (segments below 10% coverage are
      noise under any size_weight);
    - DOMINANCE prune: a size-2 segment whose Count equals either
      parent's is dropped (the extra attribute narrows nothing — the
      parent says the same with fewer terms, Kusto's redundancy rule);
    - Score = size_weight * Count/total + (1 - size_weight) * k/ncols
      (k = set attributes) — higher size_weight favors fewer, larger
      segments, Kusto's documented knob direction;
    - output: top 16 by (Score desc, attribute values asc nulls last),
      with SegmentId (0-based rank), Count, Percent, Score, then the
      attribute columns (null = wildcard, Kusto's shape).

    Scale shape: identical to basket — each row emits k + C(k,2)
    masked copies (bounded by attribute count), ONE map-side-combined
    groupBy over all candidates, a bounded COUNT(*) for the
    denominator; the dominance prune is a self-join on the BOUNDED
    candidate table (post-aggregate, metadata-sized), never on rows;
    the top-16 is TakeOrderedAndProject."""
    if not 0 < size_weight < 1:
        raise ValueError("KQL: autocluster size_weight must be in (0, 1)")
    cols = df.columns
    _require_string_attrs(df, "autocluster")
    if len(cols) < 2:
        raise ValueError("KQL: autocluster needs at least two columns")
    total = df.count()  # bounded: one scalar, the coverage denominator
    k = len(cols)
    cand = (
        _itemsets(df, cols)
        .groupBy(*cols)
        .agg(F.count("*").alias("Count"))
        .withColumn(
            "Percent", F.col("Count") / F.lit(float(total)) * 100
        )
        .filter(F.col("Percent") >= 10.0)
    )
    nset = None
    for c in cols:
        term = F.when(F.col(c).isNotNull(), 1).otherwise(0)
        nset = term if nset is None else nset + term
    cand = cand.withColumn("__k", nset).withColumn(
        "Score",
        F.lit(float(size_weight)) * F.col("Count") / F.lit(float(total))
        + F.lit(1.0 - float(size_weight)) * F.col("__k") / F.lit(float(k)),
    )
    # dominance prune on the bounded candidate table: a size-2 child is
    # dominated when a size-1 parent (same value on the parent's one
    # set attribute) has the same Count.
    parents = cand.filter(F.col("__k") == 1).select(
        *[F.col(c).alias(f"__p_{c}") for c in cols],
        F.col("Count").alias("__p_count"),
    )
    dom = None
    for c in cols:
        cond = (
            F.col(f"__p_{c}").isNotNull()
            & (F.col(f"__p_{c}") == F.col(c))
            & (F.col("__p_count") == F.col("Count"))
        )
        dom = cond if dom is None else dom | cond
    pruned = cand.filter(F.col("__k") == 2).join(
        F.broadcast(parents), on=dom, how="left_anti"
    )
    keep = cand.filter(F.col("__k") == 1).unionByName(pruned)
    # rank + id on the RAW score (rounding only the displayed values)
    # so the limit and the SegmentId window can never disagree on ties
    w = Window.orderBy(
        F.desc("Score"), *[F.asc_nulls_last(c) for c in cols]
    )
    return (
        keep.withColumn(
            "SegmentId", (F.row_number().over(w) - 1).cast("long")
        )
        .filter(F.col("SegmentId") < 16)
        .select(
            "SegmentId",
            "Count",
            F.round("Percent", 4).alias("Percent"),
            F.round("Score", 6).alias("Score"),
            *cols,
        )
        .orderBy("SegmentId")
    )


def _fan_to_bins(
    df: DataFrame,
    ts_col: str,
    start: str,
    end: str,
    look_s: float,
    bin_s: float,
) -> tuple[DataFrame, int]:
    """Shared fan-out for the rolling-window activity plugins: each
    event contributes to every report bin t_k = start + k*bin with
    ts in the window (t_k - lookback, t_k] — i.e. k from
    ceil((ts-start)/bin) to floor((ts-start+lookback-1us)/bin),
    clamped to [0, K]. Adds ``__k`` (the bin ordinal, exploded).
    Fan factor = lookback/bin copies per event — the exact audit form
    (b73's discipline); the 100 TB swap is one sketch per bin merged
    over the window, same report schema."""
    bin_us = int(bin_s * 1_000_000)
    look_us = int(look_s * 1_000_000)
    start_c = F.lit(start).cast("timestamp")
    end_c = F.lit(end).cast("timestamp")
    import datetime as _dt

    t0 = _dt.datetime.fromisoformat(start)
    t1 = _dt.datetime.fromisoformat(end)
    K = int((t1 - t0).total_seconds() * 1_000_000) // bin_us
    d_us = F.unix_micros(F.col(ts_col)) - F.unix_micros(start_c)
    k_first = F.greatest(
        F.lit(0).cast("long"), -F.floor(-d_us / F.lit(bin_us))
    )
    k_last = F.least(
        F.lit(K).cast("long"),
        F.floor((d_us + F.lit(look_us - 1)) / F.lit(bin_us)),
    )
    fan = (
        df.filter(
            (F.col(ts_col) > start_c - F.expr(f"INTERVAL {int(look_s)} SECOND"))
            & (F.col(ts_col) <= end_c)
        )
        .filter(k_first <= k_last)
        .withColumn("__k", F.explode(F.sequence(k_first, k_last)))
    )
    return fan, K


def _bin_grid(df: DataFrame, start: str, bin_s: float, K: int) -> DataFrame:
    """Dense report-bin grid 0..K with the bin-start timestamp."""
    spark = df.sparkSession
    bin_us = int(bin_s * 1_000_000)
    return spark.range(K + 1).select(
        F.col("id").alias("__k"),
        F.timestamp_micros(
            F.unix_micros(F.lit(start).cast("timestamp"))
            + F.col("id") * F.lit(bin_us)
        ).alias("Timeline"),
    )


def _compile_sliding_window_counts(
    df: DataFrame,
    id_col: str,
    ts_col: str,
    start: str,
    end: str,
    look_s: float,
    bin_s: float,
) -> DataFrame:
    """``evaluate sliding_window_counts(Id, Ts, Start, End, Lookback,
    Bin)`` — Kusto's rolling-window activity plugin: per report bin,
    the event count and DISTINCT id count over the trailing lookback
    window (t - lookback, t]. Dense timeline (empty bins emit zeros),
    Kusto's output shape (Timeline, Count, Dcount).

    Scale shape: one explode fan of lookback/bin copies per event
    (the b73 exact-audit discipline — DISTINCT does not sum, so no
    window-aggregate shortcut exists), ONE map-side-combined groupBy
    per bin, dense grid via a bounded range join."""
    fan, K = _fan_to_bins(df, ts_col, start, end, look_s, bin_s)
    counts = fan.groupBy("__k").agg(
        F.count("*").cast("long").alias("Count"),
        F.countDistinct(id_col).cast("long").alias("Dcount"),
    )
    grid = _bin_grid(df, start, bin_s, K)
    return (
        grid.join(counts, "__k", "left")
        .select(
            "Timeline",
            F.coalesce("Count", F.lit(0)).cast("long").alias("Count"),
            F.coalesce("Dcount", F.lit(0)).cast("long").alias("Dcount"),
        )
        .orderBy("Timeline")
    )


def _compile_activity_engagement(
    df: DataFrame,
    id_col: str,
    ts_col: str,
    start: str,
    end: str,
    inner_s: float,
    outer_s: float,
) -> DataFrame:
    """``evaluate activity_engagement(Id, Ts, Start, End, Inner,
    Outer)`` — Kusto's engagement-ratio plugin (the DAU/MAU
    stickiness metric): per report bin (granularity = the inner
    window, Kusto's contract), activity_ratio = dcount over the
    trailing inner window / dcount over the trailing outer window;
    null where the outer window is empty. Dense timeline.

    Scale shape: TWO fans of the deduped (id, bin) stream (factor
    inner/bin = 1 and outer/bin), joined on the bin ordinal — both
    distinct aggregates map-side combine; same sketch swap as
    sliding_window_counts at 100 TB."""
    if not inner_s <= outer_s:
        raise ValueError(
            "KQL: activity_engagement needs InnerActivityWindow <= "
            "OuterActivityWindow"
        )
    fan_in, K = _fan_to_bins(df, ts_col, start, end, inner_s, inner_s)
    fan_out, _ = _fan_to_bins(df, ts_col, start, end, outer_s, inner_s)
    din = fan_in.groupBy("__k").agg(
        F.countDistinct(id_col).alias("__din")
    )
    dout = fan_out.groupBy("__k").agg(
        F.countDistinct(id_col).alias("__dout")
    )
    grid = _bin_grid(df, start, inner_s, K)
    return (
        grid.join(din, "__k", "left")
        .join(dout, "__k", "left")
        .select(
            "Timeline",
            F.when(
                F.col("__dout") > 0,
                F.coalesce(F.col("__din"), F.lit(0)).cast("double")
                / F.col("__dout"),
            ).alias("activity_ratio"),
        )
        .orderBy("Timeline")
    )


def _compile_active_users_count(
    df: DataFrame,
    id_col: str,
    ts_col: str,
    start: str,
    end: str,
    look_s: float,
    period_s: float,
    min_periods: int,
    bin_s: float,
) -> DataFrame:
    """``evaluate active_users_count(Id, Ts, Start, End, Lookback,
    Period, ActivePeriodsCount, Bin)`` — Kusto's repeat-engagement
    plugin: per report bin t_k, the number of DISTINCT ids that were
    active in at least ActivePeriodsCount DISTINCT periods whose
    period start falls inside the trailing (t_k - lookback, t_k]
    window. Unlike sliding_window_counts' any-activity Dcount, this
    counts only ids with REPEATED engagement — the retention-grade
    DAU/WAU refinement. Pinned deterministic window contract (same
    convention as the other activity plugins): periods are
    start-anchored (ordinal floor((ts - Start) / Period)), only
    activity inside [Start, End] counts (no look-back before Start,
    the activity_counts_metrics pin), and a period joins a bin's
    window by its period-START timestamp. Dense timeline, output
    (Timeline, Dcount).

    Scale shape: the raw stream first collapses to DISTINCT
    (id, period) — at most lookback/period live rows per id,
    map-side-combinable — and only THAT bounded table fans to bins
    (lookback/bin copies per period row, the b73 exact-audit
    discipline); then one groupBy (bin, id) + threshold filter + one
    per-bin count, all map-side combined. At 100 TB the fan rides the
    collapsed period table, not the event stream — the sketch swap
    does not apply (a >= k-periods filter needs exact per-id period
    counts), so the collapse IS the scale lever."""
    if period_s > look_s:
        raise ValueError(
            "KQL: active_users_count needs Period <= LookbackWindow"
        )
    if bin_s > look_s:
        raise ValueError(
            "KQL: active_users_count needs Bin <= LookbackWindow"
        )
    if min_periods <= 0:
        raise ValueError(
            "KQL: active_users_count ActivePeriodsCount must be positive"
        )
    period_us = int(period_s * 1_000_000)
    start_c = F.lit(start).cast("timestamp")
    end_c = F.lit(end).cast("timestamp")
    p_ord = F.floor(
        (F.unix_micros(F.col(ts_col)) - F.unix_micros(start_c))
        / F.lit(period_us)
    )
    periods = (
        df.filter((F.col(ts_col) >= start_c) & (F.col(ts_col) <= end_c))
        .select(F.col(id_col).alias("__id"), p_ord.alias("__p"))
        .distinct()
        .withColumn(
            "__sp",
            F.timestamp_micros(
                F.unix_micros(start_c) + F.col("__p") * F.lit(period_us)
            ),
        )
    )
    fan, K = _fan_to_bins(periods, "__sp", start, end, look_s, bin_s)
    qualified = (
        fan.groupBy("__k", "__id")
        .agg(F.countDistinct("__p").alias("__np"))
        .filter(F.col("__np") >= min_periods)
    )
    per_bin = qualified.groupBy("__k").agg(
        F.count("*").cast("long").alias("Dcount")
    )
    grid = _bin_grid(df, start, bin_s, K)
    return (
        grid.join(per_bin, "__k", "left")
        .select(
            "Timeline",
            F.coalesce("Dcount", F.lit(0)).cast("long").alias("Dcount"),
        )
        .orderBy("Timeline")
    )


def _compile_activity_counts_metrics(
    df: DataFrame,
    id_col: str,
    ts_col: str,
    start: str,
    end: str,
    bin_s: float,
) -> DataFrame:
    """``evaluate activity_counts_metrics(Id, Ts, Start, End, Step)``
    — Kusto's per-bin activity datasheet: for each step bin,
    ``count`` (events), ``dcount`` (distinct ids), ``new_dcount``
    (ids whose FIRST activity inside the analyzed range falls in this
    bin) and ``aggregated_dcount`` (distinct ids seen in the range so
    far — the running union). Dense timeline (silent bins emit
    zeros), bin timestamps are bin STARTS. "New" is relative to the
    analyzed [Start, End) range, Kusto's contract (no look-back
    before Start).

    Scale shape: TWO shuffles — one per-bin rollup for count/dcount
    and one per-id min-bin rollup for first-seen — then new_dcount is
    a count over the (bounded-cardinality) first-seen rollup and
    aggregated_dcount a running sum over the BOUNDED bin table (the
    single-partition window orders K metadata rows, never events).
    At 100 TB both rollups map-side combine; the dcount swap is one
    HLL per bin (b41 layout)."""
    bin_us = int(bin_s * 1_000_000)
    start_c = F.lit(start).cast("timestamp")
    end_c = F.lit(end).cast("timestamp")
    import datetime as _dt

    t0 = _dt.datetime.fromisoformat(start)
    t1 = _dt.datetime.fromisoformat(end)
    K = int((t1 - t0).total_seconds() * 1_000_000) // bin_us - 1
    binned = df.filter((F.col(ts_col) >= start_c) & (F.col(ts_col) < end_c)).select(
        F.floor(
            (F.unix_micros(F.col(ts_col)) - F.unix_micros(start_c))
            / F.lit(bin_us)
        ).alias("__k"),
        F.col(id_col).alias("__id"),
    )
    per_bin = binned.groupBy("__k").agg(
        F.count("*").cast("long").alias("count"),
        F.countDistinct("__id").cast("long").alias("dcount"),
    )
    new_per_bin = (
        binned.groupBy("__id")
        .agg(F.min("__k").alias("__k"))
        .groupBy("__k")
        .agg(F.count("*").cast("long").alias("new_dcount"))
    )
    grid = _bin_grid(df, start, bin_s, K).withColumnRenamed(
        "Timeline", "Timestamp"
    )
    w = Window.orderBy("__k").rowsBetween(Window.unboundedPreceding, 0)
    return (
        grid.join(per_bin, "__k", "left")
        .join(new_per_bin, "__k", "left")
        .select(
            "Timestamp",
            F.coalesce("count", F.lit(0)).cast("long").alias("count"),
            F.coalesce("dcount", F.lit(0)).cast("long").alias("dcount"),
            F.coalesce("new_dcount", F.lit(0))
            .cast("long")
            .alias("new_dcount"),
            F.sum(F.coalesce("new_dcount", F.lit(0)))
            .over(w)
            .cast("long")
            .alias("aggregated_dcount"),
        )
        .orderBy("Timestamp")
    )


def _compile_new_activity_metrics(
    df: DataFrame,
    id_col: str,
    ts_col: str,
    start: str,
    end: str,
    win_s: float,
) -> DataFrame:
    """``evaluate new_activity_metrics(Id, Ts, Start, End, Window)``
    — Kusto's cohort-retention plugin: ids are cohorted by the window
    bin of their FIRST activity in the analyzed range; for every
    (from_Timestamp, to_Timestamp) pair with from <= to the output
    reports ``dcount_new_values`` (cohort size), ``dcount_retained_
    values`` (cohort ids active in the to bin), ``dcount_churn_
    values`` (cohort ids silent in the to bin) and the retention /
    churn rates in percent (null on an empty cohort). The full dense
    upper-triangle pair grid is emitted — K(K+1)/2 bounded rows.

    Scale shape: events dedup to (id, bin) ONCE (one distinct
    shuffle); first-seen is a per-id min over that deduped stream;
    retained joins first-seen back to the deduped stream ON ID (the
    only join that moves per-id rows) and rolls up to the bounded
    (from, to) lattice — every aggregate map-side combines, and the
    pair grid itself is metadata-sized."""
    bin_us = int(win_s * 1_000_000)
    start_c = F.lit(start).cast("timestamp")
    end_c = F.lit(end).cast("timestamp")
    import datetime as _dt

    t0 = _dt.datetime.fromisoformat(start)
    t1 = _dt.datetime.fromisoformat(end)
    K = int((t1 - t0).total_seconds() * 1_000_000) // bin_us - 1
    acts = (
        df.filter((F.col(ts_col) >= start_c) & (F.col(ts_col) < end_c))
        .select(
            F.floor(
                (F.unix_micros(F.col(ts_col)) - F.unix_micros(start_c))
                / F.lit(bin_us)
            ).alias("__k"),
            F.col(id_col).alias("__id"),
        )
        .distinct()
    )
    fs = acts.groupBy("__id").agg(F.min("__k").alias("__from"))
    cohort = fs.groupBy("__from").agg(
        F.count("*").cast("long").alias("dcount_new_values")
    )
    retained = (
        acts.join(fs, "__id")
        .groupBy("__from", F.col("__k").alias("__to"))
        .agg(F.countDistinct("__id").cast("long").alias("__ret"))
    )
    spark = df.sparkSession
    pairs = (
        spark.range(K + 1)
        .select(F.col("id").alias("__from"))
        .join(
            spark.range(K + 1).select(F.col("id").alias("__to")),
            F.col("__from") <= F.col("__to"),
        )
    )
    ts_of = lambda c: F.timestamp_micros(  # noqa: E731
        F.unix_micros(start_c) + F.col(c) * F.lit(bin_us)
    )
    new_c = F.coalesce("dcount_new_values", F.lit(0)).cast("long")
    ret_c = F.coalesce("__ret", F.lit(0)).cast("long")
    return (
        pairs.join(cohort, "__from", "left")
        .join(retained, ["__from", "__to"], "left")
        .select(
            ts_of("__from").alias("from_Timestamp"),
            ts_of("__to").alias("to_Timestamp"),
            new_c.alias("dcount_new_values"),
            ret_c.alias("dcount_retained_values"),
            (new_c - ret_c).alias("dcount_churn_values"),
            F.when(new_c > 0, F.lit(100.0) * ret_c / new_c).alias(
                "retention_rate"
            ),
            F.when(new_c > 0, F.lit(100.0) * (new_c - ret_c) / new_c).alias(
                "churn_rate"
            ),
        )
        .orderBy("from_Timestamp", "to_Timestamp")
    )


def _compile_session_count(
    df: DataFrame,
    id_col: str,
    ts_col: str,
    start: str,
    end: str,
    bin_s: float,
    look_s: float,
) -> DataFrame:
    """``evaluate session_count(Id, Ts, Start, End, Bin, LookBack)``
    — session analytics under this engine's pinned deterministic
    contract: a SESSION STARTS at an event with no same-id event in
    the preceding LookBack window (the standard gaps-and-islands
    definition, b25's sessionization rule); the output counts session
    starts per report bin, dense timeline. (Kusto's plugin wording —
    "sessions active per bin" — is its sliding distinct count, which
    is ``sliding_window_counts``/k78 here; counting STARTS is the
    complementary, episode-valued metric and the pinned divergence,
    documented.)

    Scale shape: ONE per-id shuffle for the lag window (events sort
    within id partitions), then ONE map-side-combined per-bin rollup;
    the dense grid join moves bounded bin rows. The look-back probe
    admits events from before Start (a session straddling Start is
    not re-counted), so the scan filter keeps (Start − LookBack,
    End)."""
    bin_us = int(bin_s * 1_000_000)
    start_c = F.lit(start).cast("timestamp")
    end_c = F.lit(end).cast("timestamp")
    import datetime as _dt

    t0 = _dt.datetime.fromisoformat(start)
    t1 = _dt.datetime.fromisoformat(end)
    K = int((t1 - t0).total_seconds() * 1_000_000) // bin_us - 1
    w = Window.partitionBy(id_col).orderBy(ts_col)
    ev = (
        df.filter(
            (
                F.col(ts_col)
                > start_c - F.expr(f"INTERVAL {int(look_s)} SECOND")
            )
            & (F.col(ts_col) < end_c)
        )
        .withColumn("__prev", F.lag(ts_col).over(w))
        .filter(
            (F.col(ts_col) >= start_c)
            & (
                F.col("__prev").isNull()
                | (
                    F.unix_micros(F.col(ts_col))
                    - F.unix_micros(F.col("__prev"))
                    > F.lit(int(look_s * 1_000_000))
                )
            )
        )
    )
    starts = ev.select(
        F.floor(
            (F.unix_micros(F.col(ts_col)) - F.unix_micros(start_c))
            / F.lit(bin_us)
        ).alias("__k")
    ).groupBy("__k").agg(F.count("*").cast("long").alias("SessionCount"))
    grid = _bin_grid(df, start, bin_s, K).withColumnRenamed(
        "Timeline", "Timestamp"
    )
    return (
        grid.join(starts, "__k", "left")
        .select(
            "Timestamp",
            F.coalesce("SessionCount", F.lit(0))
            .cast("long")
            .alias("SessionCount"),
        )
        .orderBy("Timestamp")
    )


def _compile_rolling_percentile(
    df: DataFrame,
    val_col: str,
    pct: float,
    ts_col: str,
    start: str,
    end: str,
    bin_s: float,
    nbins: int,
) -> DataFrame:
    """``evaluate rolling_percentile(Val, P, Ts, Start, End, Bin,
    BinsPerWindow)`` — per report bin, the EXACT interpolated
    percentile of the value column over the trailing BinsPerWindow
    bins (Kusto's plugin derives the range from the data and uses its
    sketch percentile; this engine requires the explicit range — the
    k78/k79 plugin convention — and pins the exact linear-interpolation
    definition, k30's contract). Empty windows yield null. Dense
    timeline, report points at bin boundaries.

    Scale shape: one explode fan of lookback/bin copies per event
    (exact percentiles do not merge across bins — the same reason k78
    fans for DISTINCT), ONE groupBy per report bin; at 100 TB the
    swap is percentile_approx / t-digest per bin merged over the
    window, same report schema."""
    fan, K = _fan_to_bins(df, ts_col, start, end, nbins * bin_s, bin_s)
    agg = fan.groupBy("__k").agg(
        F.percentile(F.col(val_col), F.lit(pct / 100.0)).alias(
            "rolling_percentile"
        )
    )
    grid = _bin_grid(df, start, bin_s, K)
    return (
        grid.join(agg, "__k", "left")
        .select("Timeline", "rolling_percentile")
        .orderBy("Timeline")
    )


def _compile_diffpatterns(
    df: DataFrame, split_col: str, val_a: str, val_b: str
) -> DataFrame:
    """``evaluate diffpatterns(SplitCol, 'A', 'B')`` — Kusto's
    cohort-comparison plugin: attribute patterns whose prevalence
    DIFFERS most between two row cohorts (the failure-investigation
    verb: "what changed between yesterday and today?"). Kusto's
    implementation shares autocluster's seeded heuristic; this
    engine's pinned deterministic contract mirrors
    :func:`_compile_autocluster`:

    - cohorts: rows with SplitCol == A vs == B (other rows ignored);
    - candidates: all size-1/size-2 value itemsets over the remaining
      string columns, exact per-cohort counts, nulls never match;
    - support floor: max(PercentA, PercentB) >= 5;
    - output: top 16 by abs(PercentDiffAB) desc (ties: attribute
      values asc nulls last) with SegmentId, CountA, CountB,
      PercentA, PercentB, PercentDiffAB, then the attribute columns
      (null = wildcard) — Kusto's output shape.

    Scale shape: ONE masked-copy expansion + ONE map-side-combined
    groupBy over (pattern, cohort) — the cohort is a pivot INSIDE the
    aggregate (two conditional sums), so both cohorts ride one
    shuffle; denominators are one bounded 2-row count job; the rank
    window orders the bounded candidate table only."""
    cols = [c for c in df.columns if c != split_col]
    if split_col not in df.columns:
        raise ValueError(f"KQL: diffpatterns split column {split_col!r} not found")
    _require_string_attrs(df, "diffpatterns")
    if not cols:
        raise ValueError("KQL: diffpatterns needs attribute columns")
    both = df.filter(F.col(split_col).isin(val_a, val_b))
    totals = {
        r[split_col]: r["n"]
        for r in both.groupBy(split_col).agg(F.count("*").alias("n")).collect()
    }  # bounded: 2 rows
    tot_a, tot_b = totals.get(val_a, 0), totals.get(val_b, 0)
    if tot_a == 0 or tot_b == 0:
        raise ValueError(
            f"KQL: diffpatterns cohort empty (A={tot_a} rows, B={tot_b})"
        )
    cand = (
        _itemsets(both, cols, F.col(split_col).alias("__side"))
        .groupBy(*cols)
        .agg(
            F.sum(F.when(F.col("__side") == val_a, 1).otherwise(0)).alias(
                "CountA"
            ),
            F.sum(F.when(F.col("__side") == val_b, 1).otherwise(0)).alias(
                "CountB"
            ),
        )
        .withColumn("PercentA", F.col("CountA") * 100.0 / F.lit(float(tot_a)))
        .withColumn("PercentB", F.col("CountB") * 100.0 / F.lit(float(tot_b)))
        .filter(F.greatest("PercentA", "PercentB") >= 5.0)
        .withColumn("__diff", F.col("PercentA") - F.col("PercentB"))
    )
    w = Window.orderBy(
        F.abs(F.col("__diff")).desc(), *[F.asc_nulls_last(c) for c in cols]
    )
    return (
        cand.withColumn(
            "SegmentId", (F.row_number().over(w) - 1).cast("long")
        )
        .filter(F.col("SegmentId") < 16)
        .select(
            "SegmentId",
            "CountA",
            "CountB",
            F.round("PercentA", 4).alias("PercentA"),
            F.round("PercentB", 4).alias("PercentB"),
            F.round("__diff", 4).alias("PercentDiffAB"),
            *cols,
        )
        .orderBy("SegmentId")
    )


def _compile_find(
    stage: str,
    tables: dict[str, DataFrame],
    now: str | None,
    lets: dict[str, object],
) -> DataFrame:
    """``find [in (T1, T2, ...)] where <pred>`` — Kusto's cross-table
    search verb (round-5 sweep): evaluate the predicate against every
    named table (all bound tables when ``in`` is omitted), union the
    matching rows aligned by column name with null fill, and prepend
    ``source_`` naming the contributing table. Tables that lack a
    column the predicate references contribute no rows (their filter
    does not compile) — Kusto's behavior for simple predicates. The
    union is column-aligned (Kusto's ``project-all`` output mode; its
    default pack()-based ``project-smart`` is presentation sugar over
    the same rows). Each branch keeps its own scan + filter, so
    pushdown applies per table."""
    m = re.match(r"find\s+(?:in\s*\(([^)]*)\)\s*)?where\b", stage, re.I | re.S)
    if not m:
        raise ValueError(
            "KQL: find expects 'find [in (T1, ...)] where <predicate>'"
        )
    names = (
        [s.strip() for s in m.group(1).split(",") if s.strip()]
        if m.group(1)
        else list(tables)
    )
    pred_text = stage[m.end():]
    out = None
    for name in names:
        if name not in tables:
            raise ValueError(f"KQL: find references unknown table {name!r}")
        df = tables[name]
        p = _Parser(_tokenize(pred_text), now=now, lets=lets)
        try:
            part = df.filter(p.expr())
        except AnalysisException:
            continue  # predicate references columns this table lacks
        part = part.select(
            F.lit(name).alias("source_"), *[F.col(c) for c in df.columns]
        )
        out = (
            part
            if out is None
            else out.unionByName(part, allowMissingColumns=True)
        )
    if out is None:
        raise ValueError(
            "KQL: find predicate references columns absent from every "
            "searched table"
        )
    return out


def _compile_fork(
    df: DataFrame,
    stage: str,
    tables: dict[str, DataFrame],
    now: str | None,
    lets: dict[str, object] | None,
) -> dict[str, DataFrame]:
    """Parse ``fork [name =] ( ops ) [name =] ( ops ) ...`` into
    {branch name: DataFrame}. The fork input is persisted ONCE and
    every branch compiles on top of the same materialization — exactly
    Kusto's contract (the upstream pipeline executes once, not once
    per branch); unnamed branches get Kusto's positional default."""
    from pyspark.storagelevel import StorageLevel

    rest = stage[stage.lower().index("fork") + 4:].strip()
    masked = _mask(rest)
    branches: list[tuple[str | None, str]] = []
    i = 0
    while i < len(masked):
        if masked[i].isspace():
            i += 1
            continue
        m = re.match(r"([A-Za-z_]\w*)\s*=\s*", masked[i:])
        name = None
        if m:
            name = m.group(1)
            i += m.end()
        if i >= len(masked) or masked[i] != "(":
            raise ValueError(
                f"KQL: fork branch must be a parenthesized pipeline, "
                f"got {rest[i:i + 40]!r}"
            )
        depth, j = 0, i
        while j < len(masked):
            if masked[j] == "(":
                depth += 1
            elif masked[j] == ")":
                depth -= 1
                if depth == 0:
                    break
            j += 1
        if depth != 0:
            raise ValueError("KQL: unbalanced parens in fork branch")
        branches.append((name, rest[i + 1:j].strip()))
        i = j + 1
    if not branches:
        raise ValueError("KQL: fork needs at least one branch")
    base = df.persist(StorageLevel.MEMORY_AND_DISK)
    _KQL_PERSISTED.append(base)
    out: dict[str, DataFrame] = {}
    for idx, (name, sub) in enumerate(branches):
        bname = name or f"Results_{idx}" if name or idx else "Results"
        t = dict(tables)
        t["__fork_input"] = base
        body = "__fork_input" + (" | " + sub if sub else "")
        if bname in out:
            raise ValueError(f"KQL: duplicate fork branch name {bname!r}")
        out[bname] = kql(body, t, now=now, _lets=lets)
    return out


def _compile_graph_match(
    graph: tuple[DataFrame, str, str],
    stage: str,
    now: str | None,
    lets: dict[str, object] | None,
) -> DataFrame:
    """``graph-match (a)-[]->(b)-[]->(c) [where <expr>] project
    name = expr, ...`` over a preceding ``make-graph Src --> Dst``.

    The vertex-chain pattern compiles to motif_find's chained hash
    equi-joins on vertex variables (operators/graph.py — one edge-table
    scan per hop, broadcast/shuffle joinable, never a cross join);
    repeated variables close cycles via the shared-variable join keys.
    Vertex variables bind to vertex IDS (this subset models the graph
    from two id columns — Kusto's vertex property bags need a nodes
    table, not modeled here); a NAMED edge inside ``[...]`` binds a
    struct of the edge pipeline's property columns (everything beyond
    the two make-graph id columns), so ``where``/``project`` reference
    ``e.weight`` exactly as Kusto does — the dotted word resolves as a
    Spark struct field, no extra join. ``where`` and ``project`` see
    one column per vertex variable plus one struct per named edge."""
    edges, src, dst = graph
    body = stage[len("graph-match"):].strip()
    mproj = re.search(r"\bproject\b", body, re.IGNORECASE)
    if not mproj:
        raise ValueError("KQL: graph-match requires a project clause")
    head, proj = body[: mproj.start()].strip(), body[mproj.end():].strip()
    mwhere = re.search(r"\bwhere\b", head, re.IGNORECASE)
    where_src = None
    if mwhere:
        head, where_src = (
            head[: mwhere.start()].strip(),
            head[mwhere.end():].strip(),
        )
    pat = re.fullmatch(
        r"\(\s*(\w+)\s*\)(?:\s*-\s*\[\s*\w*\s*\]\s*->\s*\(\s*(\w+)\s*\))+",
        head,
    )
    if not pat:
        raise ValueError(
            f"KQL: unparsable graph-match pattern {head!r} — expected "
            "(a)-[]->(b)[-[]->(c) ...]"
        )
    vars_ = re.findall(r"\(\s*(\w+)\s*\)", head)
    edge_names = re.findall(r"-\s*\[\s*(\w*)\s*\]\s*->", head)
    from .operators.graph import motif_find

    terms = "; ".join(
        f"({a})-[{e}]->({b})"
        for (a, b), e in zip(zip(vars_, vars_[1:]), edge_names)
    )
    df = motif_find(edges, terms, src=src, dst=dst)
    if where_src:
        p = _Parser(_tokenize(where_src), now=now, lets=lets)
        df = df.filter(p.expr())
        if p.peek() is not None:
            raise ValueError(
                f"KQL: trailing tokens in graph-match where: "
                f"{p.peek().text!r}"
            )
    p = _Parser(_tokenize(proj), now=now, lets=lets)
    cols = []
    while True:
        name = p.next().text
        if p.accept("="):
            cols.append(p.expr().alias(name))
        else:
            cols.append(F.col(name))
        if not p.accept(","):
            break
    if p.peek() is not None:
        raise ValueError(
            f"KQL: trailing tokens in graph-match project: "
            f"{p.peek().text!r}"
        )
    return df.select(*cols)


def _compile_graph_shortest_paths(
    graph: tuple,
    stage: str,
    now: str | None,
    lets: dict[str, object] | None,
) -> DataFrame:
    """``graph-shortest-paths (s)-[*1..K]->(d) [where <expr>] project
    name = expr, ...`` over a preceding ``make-graph Src --> Dst`` —
    Kusto's bounded-hop shortest-path operator, pinned subset: the
    quantifier must be ``*1..K`` with K a literal 1..8; ``where`` and
    ``project`` see the two vertex variables plus ``hops`` (the
    shortest path length). Paths of length 0 (s == d with no edge)
    are not emitted, matching Kusto.

    Plan: level-synchronous BFS — K-1 hash equi-joins of the current
    frontier against the (deduplicated) edge table, each level
    anti-joined against everything already reached so a pair carries
    its FIRST (= shortest) level; never a cross join, never a driver
    loop over rows (the loop is over K literal levels). At 100 TB
    push the source restriction BEFORE make-graph (filter the edge
    pipeline) — the operator computes per-source frontiers, so a
    bounded seed set keeps every frontier seed-keyed; the where
    clause here filters after, Kusto's semantics."""
    edges, src, dst = graph
    body = stage[len("graph-shortest-paths"):].strip()
    # Keyword scan runs over the string-MASKED text (literals become
    # 'x' padding of equal length, so offsets stay valid in the
    # original) — a where-clause literal containing the word
    # 'project' or 'where' must never split the stage.
    mproj = re.search(r"\bproject\b", _mask(body), re.IGNORECASE)
    if not mproj:
        raise ValueError(
            "KQL: graph-shortest-paths requires a project clause"
        )
    head, proj = body[: mproj.start()].strip(), body[mproj.end():].strip()
    mwhere = re.search(r"\bwhere\b", _mask(head), re.IGNORECASE)
    where_src = None
    if mwhere:
        head, where_src = (
            head[: mwhere.start()].strip(),
            head[mwhere.end():].strip(),
        )
    pat = re.fullmatch(
        r"\(\s*(\w+)\s*\)\s*-\s*\[\s*\*\s*1\s*\.\.\s*(\d+)\s*\]"
        r"\s*->\s*\(\s*(\w+)\s*\)",
        head,
    )
    if not pat:
        raise ValueError(
            f"KQL: unparsable graph-shortest-paths pattern {head!r} — "
            "expected (s)-[*1..K]->(d)"
        )
    svar, khops, dvar = pat.group(1), int(pat.group(2)), pat.group(3)
    if not (1 <= khops <= 8):
        raise ValueError(
            "KQL: graph-shortest-paths max hops must be 1..8"
        )
    e = edges.select(
        F.col(src).alias("__s"), F.col(dst).alias("__d")
    ).distinct()
    dist = e.select(
        "__s", "__d", F.lit(1).cast("long").alias("hops")
    )
    frontier = e
    for h in range(2, khops + 1):
        nxt = (
            frontier.alias("f")
            .join(e.alias("e"), F.col("f.__d") == F.col("e.__s"))
            .select(
                F.col("f.__s").alias("__s"), F.col("e.__d").alias("__d")
            )
            .distinct()
        )
        new = nxt.join(
            dist.select("__s", "__d"), ["__s", "__d"], "left_anti"
        )
        dist = dist.unionByName(
            new.select(
                "__s", "__d", F.lit(h).cast("long").alias("hops")
            )
        )
        frontier = new
    df = dist.select(
        F.col("__s").alias(svar), F.col("__d").alias(dvar), "hops"
    )
    if where_src:
        p = _Parser(_tokenize(where_src), now=now, lets=lets)
        df = df.filter(p.expr())
        if p.peek() is not None:
            raise ValueError(
                f"KQL: trailing tokens in graph-shortest-paths where: "
                f"{p.peek().text!r}"
            )
    p = _Parser(_tokenize(proj), now=now, lets=lets)
    cols = []
    while True:
        name = p.next().text
        if p.accept("="):
            cols.append(p.expr().alias(name))
        else:
            cols.append(F.col(name))
        if not p.accept(","):
            break
    if p.peek() is not None:
        raise ValueError(
            f"KQL: trailing tokens in graph-shortest-paths project: "
            f"{p.peek().text!r}"
        )
    return df.select(*cols)


def _compile_graph_mark_components(
    graph: tuple[DataFrame, str, str], stage: str
) -> DataFrame:
    """``graph-mark-components [kind=weak] [with_component_id=Name]``
    over a preceding ``make-graph Src --> Dst`` — Kusto's connected-
    components marker, pinned subset: ``kind=weak`` only (Kusto's
    default; every edge is treated as undirected) and the output is
    the NODE table ``(node, <Name>)`` — the graph-to-table-nodes
    rendering, since this engine's graph operators all emit relational
    results. The component label is the MINIMUM reachable node id
    (deterministic, engine-portable — Kusto's ids are arbitrary, so a
    differential oracle needs the canonical choice; a DuckDB recursive
    CTE recomputes the same closure).

    Spark-first: distributed min-label propagation
    (operators/graph.py:connected_components — one edge-keyed equi-join
    + one map-side-combined groupBy-min per round, O(diameter) rounds,
    lineage localCheckpoint'ed; large-star/small-star fallback for
    adversarial diameters). Never a driver-side graph; at 100 TB the
    per-round shuffle is keyed by node id so AQE coalesces it.
    """
    edges, src, dst = graph
    body = stage[len("graph-mark-components"):].strip()
    kind, cid = "weak", "ComponentId"
    if body:
        for part in re.finditer(r"(\w+)\s*=\s*([A-Za-z_]\w*)", body):
            key, val = part.group(1).lower(), part.group(2)
            if key == "kind":
                kind = val.lower()
            elif key == "with_component_id":
                cid = val
            else:
                raise ValueError(
                    f"KQL: graph-mark-components unknown argument "
                    f"{part.group(1)!r} (kind, with_component_id)"
                )
        leftover = re.sub(r"(\w+)\s*=\s*([A-Za-z_]\w*)", "", body).strip()
        if leftover:
            raise ValueError(
                f"KQL: trailing tokens in graph-mark-components: "
                f"{leftover!r}"
            )
    if kind != "weak":
        raise ValueError(
            "KQL: graph-mark-components supports kind=weak only "
            "(Kusto's default; strong components are out of the "
            "pinned subset)"
        )
    from .operators.graph import connected_components

    cc = connected_components(
        edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d")),
        src="__s",
        dst="__d",
    )
    return cc.select(F.col("id").alias("node"), F.col("comp").alias(cid))


# Every DataFrame the compiler persists (materialize() bindings, fork
# bases) — persist outlives the compile because the returned branches
# are lazy, so long-lived sessions running many such queries would
# otherwise accumulate MEMORY_AND_DISK entries. Callers that loop
# (bench harnesses, notebook sessions) should call
# kql_unpersist_caches() once the round's results are materialized.
_KQL_PERSISTED: list[DataFrame] = []


def kql_unpersist_caches() -> int:
    """Unpersist every DataFrame the KQL compiler has persisted since
    the last call (``materialize()`` bindings and ``fork`` bases) and
    return how many were released. Safe to call at any time — already
    -collected results are unaffected; un-collected branch DataFrames
    simply recompute their pre-fork input."""
    n = 0
    while _KQL_PERSISTED:
        try:
            _KQL_PERSISTED.pop().unpersist()
            n += 1
        except Exception:  # session already stopped — nothing to free
            pass
    return n


def kql_fork(
    query_text: str,
    tables: dict[str, DataFrame],
    now: str | None = None,
    allow_python: bool | None = None,
) -> dict[str, DataFrame]:
    """Kusto-faithful ``fork``: compile a query whose LAST operator is
    ``fork`` and return {branch name: DataFrame} — one entry per
    branch, exactly Kusto's multiple result tables. The pre-fork
    pipeline is persisted once and shared by all branches; let
    bindings are visible inside branches. (``kql()`` accepts the same
    query and returns the branches unioned by name behind a ``fork_``
    discriminator column — the single-table rendering.)"""
    out: dict[str, DataFrame] = {}
    kql(query_text, tables, now=now, _fork_out=out, allow_python=allow_python)
    if not out:
        raise ValueError("KQL: kql_fork needs a query ending in 'fork'")
    return out


_KQL_ALLOW_PYTHON = contextvars.ContextVar("kql_allow_python", default=False)


def kql(
    query_text: str,
    tables: dict[str, DataFrame],
    now: str | None = None,
    _lets: dict[str, object] | None = None,
    _fork_out: dict[str, DataFrame] | None = None,
    allow_python: bool | None = None,
) -> DataFrame:
    """Compile and run a KQL pipeline against the given table bindings.

    ``allow_python`` gates ``evaluate python(...)``: the plugin exec()s
    the script text on executors, so — like upstream Kusto, which ships
    the python plugin disabled until a cluster admin enables it — it is
    OFF by default and a query using it raises unless the caller opts
    in with ``allow_python=True`` (only for queries whose text the
    caller trusts at UDF-registration trust level). ``None`` (the
    default) inherits the setting from an enclosing ``kql()`` call, so
    subqueries/lets/fork branches compiled recursively keep the
    top-level caller's decision.

    ``now`` anchors ``ago()`` to a fixed timestamp string (deterministic
    replay / differential testing); None = wall clock, as in Kusto.

    ``let`` statements (separated by ``;``) may precede the query:
    a scalar literal body binds a named constant usable in any
    expression; any other body is compiled as a subquery and becomes a
    named table binding (Kusto's tabular let — a CTE). Bindings are
    visible to later lets, the main pipeline, and join subqueries; the
    caller's ``tables`` dict is never mutated.

    >>> kql("Orders | summarize avg_sales = avg(amount) by city",
    ...     {"Orders": orders_df})
    """
    if allow_python is not None:
        token = _KQL_ALLOW_PYTHON.set(bool(allow_python))
        try:
            return kql(
                query_text, tables, now=now, _lets=_lets, _fork_out=_fork_out
            )
        finally:
            _KQL_ALLOW_PYTHON.reset(token)
    spark = _session(tables)
    if _KQL_SESSION.get() is not spark:
        # the kernels' SQL functions are created in, and resolved by,
        # the session of the query's tables
        token = _KQL_SESSION.set(spark)
        try:
            return kql(
                query_text, tables, now=now, _lets=_lets, _fork_out=_fork_out
            )
        finally:
            _KQL_SESSION.reset(token)
    lets = dict(_lets or {})
    tables = dict(tables)
    stmts = _split_top(query_text, ";")
    for s in stmts[:-1]:
        m = re.match(r"let\s+([A-Za-z_]\w*)\s*=\s*(.+)$", s, re.S)
        if not m:
            raise ValueError(
                f"KQL: only 'let' statements may precede the query, got {s[:40]!r}"
            )
        name, body = m.group(1), m.group(2).strip()
        lam = re.fullmatch(
            r"\(\s*([A-Za-z_]\w*)\s*:\s*\(\s*\*\s*\)\s*\)\s*\{(.*)\}\s*",
            body,
            re.S,
        )
        if lam:
            # let f = (T:(*)) { T | ... }; — Kusto's tabular lambda
            # (one (*) tabular parameter in this subset). Stored as a
            # template; `| invoke f()` binds the incoming pipeline to
            # the parameter name and compiles the body in place — pure
            # compile-time substitution, so the result plans exactly
            # like the inlined query.
            lets[name] = ("__kql_lambda", lam.group(1), lam.group(2).strip())
        elif re.fullmatch(r"\d+\.\d+|\d+", body):
            lets[name] = float(body) if "." in body else int(body)
        elif re.fullmatch(r"'(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\"", body):
            lets[name] = body[1:-1]
        elif re.match(r"materialize\s*\(", body):
            # let x = materialize(T | ...); — Kusto's cache hint:
            # compile the inner pipeline once and persist it, so every
            # later reference reuses the SAME computed rows (plan shows
            # one InMemoryTableScan per reference, not a recompute).
            # Semantically identical to the plain tabular let; the
            # reuse is what changes at scale (Kusto docs: materialize
            # exists exactly for multi-reference lets).
            inner = body[body.index("(") + 1:].strip()
            if not inner.endswith(")"):
                raise ValueError(
                    f"KQL: unbalanced parens in materialize: {body[:60]!r}"
                )
            from pyspark.storagelevel import StorageLevel

            tables[name] = kql(
                inner[:-1].strip(), tables, now=now, _lets=lets
            ).persist(StorageLevel.MEMORY_AND_DISK)
            _KQL_PERSISTED.append(tables[name])
        else:
            tables[name] = kql(body, tables, now=now, _lets=lets)
    if not stmts:
        raise ValueError("KQL: empty query")
    stages = _split_stages(stmts[-1])
    if not stages:
        raise ValueError("KQL: empty query")
    table = stages[0]
    src_head = re.match(r"[A-Za-z_]\w*", table)
    if (
        table not in tables
        and src_head
        and src_head.group().lower() == "find"
    ):
        df = _compile_find(table, tables, now, lets)
    elif (
        table not in tables
        and src_head
        and src_head.group().lower()
        in ("print", "range", "datatable", "externaldata")
    ):
        df = _compile_source(table, tables, now, lets)
    elif table not in tables:
        raise ValueError(f"KQL: unknown table {table!r}")
    else:
        df = tables[table]
    tables = dict(tables)  # `as` adds bindings; never mutate the caller's
    render = None
    # serialized row order (sort-key Columns) for the window functions;
    # set by sort/top, preserved by row-local verbs, reset by the rest
    ser: list[Column] | None = None
    # pending make-graph state: graph-match must follow immediately
    _graph: tuple[DataFrame, str, str] | None = None

    for _si, stage in enumerate(stages[1:], start=1):
        if render is not None:
            raise ValueError("KQL: 'render' must be the last operator")
        if _graph is not None and not re.match(
            r"graph-(match|shortest-paths|mark-components)\b",
            stage.strip(),
            re.IGNORECASE,
        ):
            raise ValueError(
                "KQL: make-graph must be followed by graph-match, "
                "graph-shortest-paths or graph-mark-components"
            )
        if "toscalar" in stage:
            stage = _resolve_toscalar(stage, tables, now, lets)
        head = re.match(r"[A-Za-z_][\w-]*", stage)
        if head and head.group().lower() == "join":
            # stage-level compile: the parenthesized right side is a
            # full sub-pipeline, not an expression
            df = _compile_join(df, stage, tables, now, lets)
            ser = None
            continue
        if head and head.group().lower() == "lookup":
            df = _compile_lookup(df, stage, tables, now, lets)
            ser = None
            continue
        if head and head.group().lower() == "mv-apply":
            df = _compile_mv_apply(df, stage, now, lets)
            ser = None
            continue
        if head and head.group().lower() == "union":
            # union T2 [, (Sub | ...), ...] — Kusto aligns columns by
            # name and null-fills the gaps, exactly unionByName with
            # allowMissingColumns
            rest = stage[head.end():].lstrip()
            for item in _split_top(rest, ","):
                if item.startswith("("):
                    if not item.endswith(")"):
                        raise ValueError(
                            f"KQL: unbalanced parens in union: {item!r}"
                        )
                    other = kql(item[1:-1].strip(), tables, now=now, _lets=lets)
                elif re.fullmatch(r"[A-Za-z_]\w*", item) and item in tables:
                    other = tables[item]
                else:
                    raise ValueError(
                        f"KQL: union operand must be a known table or a "
                        f"parenthesized subquery, got {item!r}"
                    )
                df = df.unionByName(other, allowMissingColumns=True)
            ser = None
            continue
        if head and head.group().lower() == "make-graph":
            m = re.fullmatch(
                r"make-graph\s+([A-Za-z_]\w*)\s*-->\s*([A-Za-z_]\w*)\s*",
                stage,
                re.IGNORECASE,
            )
            if not m:
                raise ValueError(
                    "KQL: make-graph expects 'make-graph Src --> Dst' "
                    "(directed edges from two columns of the pipeline)"
                )
            for col in m.groups():
                if col not in df.columns:
                    raise ValueError(
                        f"KQL: make-graph column {col!r} not found"
                    )
            _graph = (df, m.group(1), m.group(2))
            ser = None
            continue
        if head and head.group().lower() == "graph-match":
            if _graph is None:
                raise ValueError(
                    "KQL: graph-match requires a preceding make-graph"
                )
            df = _compile_graph_match(_graph, stage, now, lets)
            _graph = None
            ser = None
            continue
        if head and head.group().lower() == "graph-shortest-paths":
            if _graph is None:
                raise ValueError(
                    "KQL: graph-shortest-paths requires a preceding "
                    "make-graph"
                )
            df = _compile_graph_shortest_paths(_graph, stage, now, lets)
            _graph = None
            ser = None
            continue
        if head and head.group().lower() == "graph-mark-components":
            if _graph is None:
                raise ValueError(
                    "KQL: graph-mark-components requires a preceding "
                    "make-graph"
                )
            df = _compile_graph_mark_components(_graph, stage)
            _graph = None
            ser = None
            continue
        if head and head.group().lower() == "invoke":
            # | invoke f() — apply a tabular lambda let to the pipeline
            m = re.fullmatch(
                r"invoke\s+([A-Za-z_]\w*)\s*\(\s*\)\s*", stage, re.IGNORECASE
            )
            if not m:
                raise ValueError(
                    "KQL: invoke expects 'invoke f()' with f a tabular "
                    "lambda let (parameters beyond the tabular input "
                    "are not supported in this subset)"
                )
            fn = (lets or {}).get(m.group(1))
            if not (
                isinstance(fn, tuple) and fn and fn[0] == "__kql_lambda"
            ):
                raise ValueError(
                    f"KQL: invoke target {m.group(1)!r} is not a "
                    "tabular lambda let"
                )
            _tag, param, fbody = fn
            t = dict(tables)
            t[param] = df
            df = kql(fbody, t, now=now, _lets=lets)
            ser = None
            continue
        if head and head.group().lower() == "fork":
            # positional check — the toscalar rewrite above rebinds
            # `stage` to a new string, so identity vs stages[-1] would
            # spuriously reject a final fork containing toscalar
            if _si != len(stages) - 1:
                raise ValueError("KQL: 'fork' must be the last operator")
            branches = _compile_fork(df, stage, tables, now, lets)
            if _fork_out is not None:
                _fork_out.update(branches)
            # Single-DataFrame rendering of Kusto's multi-table fork:
            # branches union by name (null-filled), discriminated by a
            # leading fork_ column. kql_fork() returns the faithful
            # {branch name: DataFrame} dict instead.
            df = None
            for bname, bdf in branches.items():
                tagged = bdf.select(
                    F.lit(bname).alias("fork_"), "*"
                )
                df = (
                    tagged
                    if df is None
                    else df.unionByName(tagged, allowMissingColumns=True)
                )
            ser = None
            continue
        p = _Parser(_tokenize(stage), now=now, lets=lets, win=ser)
        verb = p.next().text.lower()
        if verb == "mv" and p.peek() and p.peek().text == "-":
            p.next()
            if p.next().text.lower() != "expand":
                raise ValueError("KQL: expected 'mv-expand'")
            verb = "mv-expand"
        if verb == "make" and p.peek() and p.peek().text == "-":
            p.next()
            if p.next().text.lower() != "series":
                raise ValueError("KQL: expected 'make-series'")
            verb = "make-series"
        if verb == "parse" and p.peek() and p.peek().text == "-":
            p.next()
            sub = p.next().text.lower()
            if sub == "where":
                verb = "parse-where"
            elif sub == "kv":
                verb = "parse-kv"
            else:
                raise ValueError(f"KQL: unsupported operator 'parse-{sub}'")
        if verb == "project" and p.peek() and p.peek().text == "-":
            p.next()
            sub = p.next().text.lower()
            if sub not in ("away", "rename", "keep", "reorder"):
                raise ValueError(f"KQL: unsupported operator 'project-{sub}'")
            verb = f"project-{sub}"
        if verb == "sample" and p.peek() and p.peek().text == "-":
            p.next()
            if p.next().text.lower() != "distinct":
                raise ValueError("KQL: expected 'sample-distinct'")
            verb = "sample-distinct"
        # which verbs keep the serialized order: row-local transforms
        # do; anything that re-groups, re-joins, or explodes does not.
        # sort/top establish a NEW order below. evaluate narrow()
        # CONSUMES the incoming order (its Row index) even though its
        # output is unordered — it reads prev_ser.
        prev_ser = ser
        if verb not in (
            "where", "extend", "serialize", "project", "project-away",
            "project-rename", "project-keep", "project-reorder", "parse",
            "parse-where", "parse-kv", "take", "limit", "search", "as",
            "render", "sort", "order", "top",
        ):
            ser = None
            p.win = None
        if verb == "where":
            df = df.filter(p.expr())
        elif verb == "summarize":
            # hint.shufflekey = col / hint.strategy = shuffle — Kusto's
            # shuffle-strategy hints for high-cardinality aggregates.
            # Compiled to ONE explicit repartition on the hinted key(s)
            # before groupBy: HashPartitioning on a subset of the group
            # keys satisfies the aggregate's ClusteredDistribution, so
            # EnsureRequirements inserts no second Exchange — the plan
            # is repartition(hint) → final HashAggregate. That trades
            # map-side combine for one well-keyed shuffle, exactly the
            # trade the Kusto hint makes (worth it when group keys are
            # near-unique so partials reduce nothing, or one subset key
            # is where the skew/locality lives).
            hint_keys: list[str] = []
            hint_shuffle = False
            while (
                p.peek()
                and p.peek().text.lower().startswith("hint.")
            ):
                hname = p.next().text.lower()[len("hint."):]
                p.expect("=")
                hval = p.next().text
                if hname == "shufflekey":
                    hint_keys.append(hval)
                elif hname == "strategy":
                    if hval.lower() != "shuffle":
                        raise ValueError(
                            "KQL: summarize supports only "
                            "hint.strategy = shuffle, got "
                            f"{hval!r}"
                        )
                    hint_shuffle = True
                else:
                    raise ValueError(
                        f"KQL: unsupported summarize hint {hname!r}"
                    )
            aggs = [p.agg_item()]
            while p.accept(","):
                aggs.append(p.agg_item())
            if p.accept("by"):
                keys = p.group_items()
                if hint_keys:
                    df = df.repartition(*[F.col(c) for c in hint_keys])
                elif hint_shuffle:
                    # bare strategy=shuffle: shuffle on the full key set
                    df = df.repartition(*keys)
                df = df.groupBy(*keys).agg(*aggs)
            else:
                if hint_keys or hint_shuffle:
                    raise ValueError(
                        "KQL: shuffle hints need a 'by' clause"
                    )
                df = df.agg(*aggs)
        elif verb in ("sort", "order"):
            p.expect("by")
            cols = []
            while True:
                c = p.next().text
                if p.accept("asc"):
                    cols.append(F.asc(c))
                else:
                    p.accept("desc")  # KQL default is descending
                    cols.append(F.desc(c))
                if not p.accept(","):
                    break
            df = df.orderBy(*cols)
            ser = cols  # sort output is serialized, as in Kusto
        elif (
            verb == "top"
            and p.peek()
            and p.peek().text == "-"
            and p.toks[p.i + 1 : p.i + 2]
            and p.toks[p.i + 1].text.lower() == "hitters"
        ):
            # top-hitters N of col [by valcol] — Kusto's heavy-hitters
            # sketch. Compiled exactly (group + top-k) rather than
            # approximately, the same deliberate exactness choice as
            # dcount: one mergeable aggregate with map-side partials,
            # then TakeOrderedAndProject — no sketch needed until the
            # group cardinality itself is the bottleneck. Ties break on
            # the key ascending for determinism.
            p.next()
            p.next()
            n = int(p.next().text)
            if p.next().text.lower() != "of":
                raise ValueError("KQL: top-hitters needs 'of <column>'")
            col = p.next().text
            if p.accept("by"):
                val = p.next().text
                vname = f"approximate_sum_{val}"
                agg = F.sum(val).alias(vname)
            else:
                vname = f"approximate_count_{col}"
                agg = F.count("*").alias(vname)
            df = (
                df.groupBy(col)
                .agg(agg)
                .orderBy(F.desc(vname), F.asc(col))
                .limit(n)
            )
        elif verb == "top" and p.peek() and p.peek().text == "-":
            # top-nested N of col by [name =] agg() [, top-nested ...]
            # Hierarchical top-k: each level keeps the top N keys by its
            # aggregate WITHIN the surviving parent keys. Compiles to,
            # per level: one aggregate (shuffle with map-side partials)
            # + a ranking window partitioned by the parent prefix; the
            # surviving-prefix set is ≤ prod(N_i) rows, so it broadcasts
            # into the next level's filter join. Ties break on the key
            # ascending (Kusto leaves ties arbitrary; deterministic is
            # the testable contract).
            p.next()
            if p.next().text.lower() != "nested":
                raise ValueError("KQL: expected 'top-nested'")
            from pyspark.sql import Window as _W

            surv = None
            prefix: list[str] = []
            vnames: list[str] = []
            while True:
                n = int(p.next().text)
                if p.next().text.lower() != "of":
                    raise ValueError("KQL: top-nested needs 'of <column>'")
                col = p.next().text
                others_label = None
                if p.accept("with"):
                    if p.next().text.lower() != "others":
                        raise ValueError(
                            "KQL: expected 'with others = \"label\"'"
                        )
                    p.expect("=")
                    others_label = p.next().text.strip("'\"")
                p.expect("by")
                tok = p.next()
                if p.peek() and p.peek().text == "=":
                    vname = tok.text
                    p.next()
                else:
                    p.i -= 1
                    vname = f"aggregated_{col}"
                fname = p.peek().text.lower() if p.peek() else ""
                agg = p.agg_item().alias(vname)
                if others_label is not None and fname not in (
                    "sum", "count", "countif",
                ):
                    # the Others bucket re-aggregates per-key values;
                    # that equals the aggregate over the remaining
                    # records only for additive aggregates — refuse the
                    # rest rather than silently mis-aggregate
                    raise ValueError(
                        "KQL: 'with others' supports additive aggregates "
                        f"(sum/count/countif), got {fname!r}"
                    )

                lvl = df
                if surv is not None:
                    lvl = lvl.join(
                        F.broadcast(surv.select(*prefix)), prefix, "inner"
                    )
                grouped = lvl.groupBy(*prefix, col).agg(agg)
                w = _W.partitionBy(*prefix).orderBy(
                    F.desc(vname), F.asc(col)
                )
                top = (
                    grouped.withColumn("__tnr", F.row_number().over(w))
                    .filter(F.col("__tnr") <= n)
                    .drop("__tnr")
                )
                if others_label is not None:
                    if p.accept(","):
                        raise ValueError(
                            "KQL: 'with others' is supported on the LAST "
                            "top-nested level only (deeper levels would "
                            "descend into a synthetic key)"
                        )
                    coltype = dict(grouped.dtypes)[col]
                    others_row = (
                        grouped.join(
                            F.broadcast(top.select(*prefix, col)),
                            prefix + [col],
                            "left_anti",
                        )
                        .groupBy(*prefix)
                        .agg(F.sum(vname).alias(vname))
                        .withColumn(
                            col, F.lit(others_label).cast(coltype)
                        )
                        .select(*top.columns)
                    )
                    top = top.unionByName(others_row)
                if surv is not None:
                    # re-attach the parent levels' value columns
                    top = top.join(F.broadcast(surv), prefix, "inner")
                surv = top
                prefix = prefix + [col]
                vnames.append(vname)
                if not p.accept(","):
                    break
                if (
                    p.next().text.lower() != "top"
                    or p.next().text != "-"
                    or p.next().text.lower() != "nested"
                ):
                    raise ValueError(
                        "KQL: top-nested levels must each start with 'top-nested'"
                    )
            # Kusto column order: key1, value1, key2, value2, ...
            ordered = [c for pair in zip(prefix, vnames) for c in pair]
            df = surv.select(*ordered)
        elif verb == "top":
            n = int(p.next().text)
            p.expect("by")
            # Kusto: top N by <expr> [asc|desc] [nulls first|last] —
            # any scalar expression, not just a column (round-5 sweep)
            key = p.expr()
            asc = bool(p.accept("asc"))
            if not asc:
                p.accept("desc")
            nulls = None
            if p.accept("nulls"):
                nulls = p.next().text.lower()
                if nulls not in ("first", "last"):
                    raise ValueError("KQL: top expects 'nulls first|last'")

            def order(c: Column) -> Column:
                if asc:
                    return {
                        "first": c.asc_nulls_first(),
                        "last": c.asc_nulls_last(),
                    }.get(nulls, c.asc())
                return {
                    "first": c.desc_nulls_first(),
                    "last": c.desc_nulls_last(),
                }.get(nulls, c.desc())

            # sort on the projected key: a kernel's SQL function may
            # not sit in a Sort (still one TakeOrderedAndProject)
            df = (
                df.withColumn("__kql_top", key)
                .orderBy(order(F.col("__kql_top")))
                .limit(n)
                .drop("__kql_top")
            )
            ser = [order(key)]  # top output is serialized, as in Kusto
        elif verb in ("take", "limit"):
            df = df.limit(int(p.next().text))
        elif verb == "project":
            cols = []
            while True:
                name = p.next().text
                if p.accept("="):
                    cols.append(p.expr().alias(name))
                else:
                    cols.append(F.col(name))
                if not p.accept(","):
                    break
            df = df.select(*cols)
        elif verb == "make-series":
            # make-series name = agg() [default = lit] on tscol
            #   from 'ts' to 'ts' step <dur> [by g, ...]
            # Kusto's signature time-series shape: per group, a DENSE
            # array of aggregate values over uniform time bins (gaps
            # filled with the default) plus the bin-start array.
            # Compiles to: bin → per-bin aggregate (one shuffle, map-side
            # partials) → per-group map(bin→val) → sequence+transform
            # grid materialization. All JVM expressions — the grid fan-
            # out costs nbins array slots per group, never a row explode,
            # and no UDF.
            # one or more `name = agg() [default = lit]` items, comma
            # separated (Kusto's multi-column make-series: every series
            # shares the grid and the ONE per-bin rollup — n aggregates
            # cost one shuffle, not n)
            ms_aggs: list[tuple[str, Column, object]] = []
            while True:
                agg_name = p.next().text
                p.expect("=")
                agg_col = p.agg_item().alias(agg_name)
                fill = 0
                if p.accept("default"):
                    p.expect("=")
                    # `default = null` / `default = double(null)` — the
                    # spelling that makes gaps visible to series_fill_*
                    nxt = p.peek()
                    if nxt is not None and nxt.text.lower() in (
                        "null",
                        "double",
                    ):
                        t = p.next()
                        if t.text.lower() == "double":
                            p.expect("(")
                            if p.next().text.lower() != "null":
                                raise ValueError(
                                    "KQL: make-series default double(...) "
                                    "supports only double(null)"
                                )
                            p.expect(")")
                        fill = None
                    else:
                        fill = p._literal_value()
                ms_aggs.append((agg_name, agg_col, fill))
                if not p.accept(","):
                    break
            agg_name = ms_aggs[0][0]
            if p.next().text.lower() != "on":
                raise ValueError("KQL: make-series needs 'on <timecol>'")
            ts_col = p.next().text
            if p.next().text.lower() != "from":
                raise ValueError("KQL: make-series needs 'from'")
            start_s = p._datetime_literal()
            if p.next().text.lower() != "to":
                raise ValueError("KQL: make-series needs 'to'")
            end_s = p._datetime_literal()
            if p.next().text.lower() != "step":
                raise ValueError("KQL: make-series needs 'step'")
            st = p.next()
            if st.kind != "dur":
                raise ValueError("KQL: make-series step needs a duration")
            secs = int(p._duration_seconds(st.text))
            groups = p.ident_list() if p.accept("by") else []

            from datetime import datetime, timezone

            t0 = datetime.fromisoformat(start_s).replace(tzinfo=timezone.utc)
            t1 = datetime.fromisoformat(end_s).replace(tzinfo=timezone.utc)
            span = (t1 - t0).total_seconds()
            if span <= 0:
                raise ValueError("KQL: make-series 'to' must be after 'from'")
            nbins = int(-(-span // secs))  # ceil
            start_unix = int(t0.timestamp())

            # Kusto emits a series for EVERY group present in the input,
            # zero-filled when all of the group's rows fall outside
            # [from, to) — so the window must not FILTER rows (that
            # would drop whole groups). Instead out-of-window rows bin
            # to a NULL index: they keep their group alive through both
            # aggregations, and map_from_entries never sees them
            # (collect_list skips the null-wrapped structs). One scan,
            # two exchanges — same plan shape as the filtering form.
            # Without `by`, the global groupBy yields exactly one
            # (possibly all-default) series row even on empty input.
            in_win = (F.col(ts_col) >= F.lit(start_s).cast("timestamp")) & (
                F.col(ts_col) < F.lit(end_s).cast("timestamp")
            )
            binned = (
                df.withColumn(
                    "__msi",
                    F.when(
                        in_win,
                        F.floor(
                            (F.unix_timestamp(F.col(ts_col)) - F.lit(start_unix))
                            / F.lit(secs)
                        ).cast("long"),
                    ),
                )
                .groupBy(*groups, "__msi")
                .agg(*[a[1] for a in ms_aggs])
            )
            per_group = binned.groupBy(*groups).agg(
                *[
                    F.map_from_entries(
                        F.collect_list(
                            F.when(
                                F.col("__msi").isNotNull(),
                                F.struct("__msi", nm),
                            )
                        )
                    ).alias(f"__m_{nm}")
                    for nm, _, _ in ms_aggs
                ]
            )
            grid = F.sequence(F.lit(0), F.lit(nbins - 1))

            def _ms_series(nm: str, fill):
                # NOTE: default-arg lambdas are NOT usable here —
                # PySpark derives the HOF arity from the lambda's
                # parameter count, so bind loop vars via this closure
                return F.transform(
                    grid,
                    lambda i: F.coalesce(
                        F.element_at(F.col(f"__m_{nm}"), i.cast("long")),
                        F.lit(fill),
                    ),
                ).alias(nm)

            series_cols = [_ms_series(nm, fill) for nm, _, fill in ms_aggs]
            ts_arr = F.transform(
                grid,
                lambda i: F.timestamp_seconds(
                    F.lit(start_unix) + i.cast("long") * F.lit(secs)
                ),
            )
            df = per_group.select(
                *groups, *series_cols, ts_arr.alias(ts_col)
            )
        elif verb == "project-away":
            df = df.drop(*p.ident_list())
        elif verb == "project-rename":
            # project-rename new = old, ...
            while True:
                new = p.next().text
                p.expect("=")
                old = p.next().text
                df = df.withColumnRenamed(old, new)
                if not p.accept(","):
                    break
        elif verb == "project-keep":
            # keep only the listed columns, in the TABLE's order (Kusto)
            keep = set(p.ident_list())
            df = df.select(*[c for c in df.columns if c in keep])
        elif verb == "project-reorder":
            # listed columns first, the rest in their existing order
            names = p.ident_list()
            named = set(names)
            df = df.select(*names, *[c for c in df.columns if c not in named])
        elif verb == "serialize":
            # serialize marks row order as significant. A distributed
            # engine has no implicit input order to freeze, so this
            # subset requires the order to be explicit: a preceding
            # `sort by` / `top`. With assignments it behaves like
            # extend (window functions allowed).
            if ser is None:
                raise ValueError(
                    "KQL: serialize needs an established row order in a "
                    "distributed engine — precede it with 'sort by'"
                )
            if p.peek() is not None:
                while True:
                    name = p.next().text
                    p.expect("=")
                    df = df.withColumn(name, p.expr())
                    if not p.accept(","):
                        break
        elif verb == "as":
            # bind the current pipeline state to a name usable by later
            # join/lookup/union stages (this query only — the caller's
            # table dict is never mutated)
            tables[p.next().text] = df
        elif verb == "parse-kv":
            # parse-kv Expr as (k1: t1, ...) with (pair_delimiter='; ',
            # kv_delimiter='=') — Kusto's key-value extraction.
            # Compiles to ONE str_to_map (delimiters are literals,
            # regex-escaped so they mean themselves) + one typed probe
            # per DECLARED key: pure codegen per row, no UDF, no
            # explode — undeclared keys are never materialized.
            src = p.expr()
            if p.next().text.lower() != "as":
                raise ValueError("KQL: parse-kv needs 'as (name:type, ...)'")
            p.expect("(")
            kv_cols: list[tuple[str, str]] = []
            while True:
                nm = p.next().text
                p.expect(":")
                ty = p.next().text.lower()
                kv_cols.append((nm, ty))
                if not p.accept(","):
                    break
            p.expect(")")
            pair_d, kv_d = ",", "="
            if p.peek() is not None and p.peek().text.lower() == "with":
                p.next()
                p.expect("(")
                while True:
                    okey = p.next().text.lower()
                    p.expect("=")
                    oval = p.next()
                    if oval.kind != "str":
                        raise ValueError(
                            "KQL: parse-kv options need string literals"
                        )
                    if okey == "pair_delimiter":
                        pair_d = oval.text[1:-1]
                    elif okey == "kv_delimiter":
                        kv_d = oval.text[1:-1]
                    else:
                        raise ValueError(
                            f"KQL: unsupported parse-kv option {okey!r}"
                        )
                    if not p.accept(","):
                        break
                p.expect(")")
            kvmap = F.str_to_map(
                src, F.lit(re.escape(pair_d)), F.lit(re.escape(kv_d))
            )
            df = df.withColumn("__kql_kv", kvmap)
            for nm, ty in kv_cols:
                cast_ty = _TYPEOF.get(ty)
                if cast_ty is None:
                    raise ValueError(f"KQL: unsupported typeof({ty})")
                df = df.withColumn(
                    nm, F.element_at(F.col("__kql_kv"), nm).cast(cast_ty)
                )
            df = df.drop("__kql_kv")
        elif verb == "facet":
            # facet by c1, c2, ... — Kusto returns ONE TABLE PER
            # column (each `T | summarize count() by c`); a
            # single-table engine surface renders them unioned behind
            # a `facet_column` discriminator (the same adaptation the
            # fork render uses), values stringified so heterogeneous
            # columns align. One groupBy per facet column — each is
            # its own map-side-combined rollup; the union is metadata.
            if p.next().text.lower() != "by":
                raise ValueError("KQL: facet needs 'by col, ...'")
            fnames = p.ident_list()
            if p.peek() is not None:
                raise ValueError(
                    "KQL: facet subqueries (with (...)) are not in "
                    "this subset"
                )
            fdf = None
            for nm in fnames:
                t = (
                    df.groupBy(F.col(nm).cast("string").alias("value"))
                    .agg(F.count(F.lit(1)).alias("Count"))
                    .select(
                        F.lit(nm).alias("facet_column"), "value", "Count"
                    )
                )
                fdf = t if fdf is None else fdf.unionByName(t)
            df = fdf
        elif verb in ("parse", "parse-where"):
            # parse Source with 'lit' Name1 'lit' Name2 ... — Kusto's
            # simple-mode pattern extraction. Compiles to ONE anchored
            # regex with a non-greedy capture per name (last capture
            # takes the rest), applied via regexp_extract per column:
            # pure JVM expression work, no UDF.
            mode = "simple"
            if (
                p.peek() is not None
                and p.peek().text.lower() == "kind"
            ):
                p.next()
                p.expect("=")
                mode = p.next().text.lower()
                if mode not in ("simple", "regex"):
                    raise ValueError(
                        f"KQL: parse kind must be simple or regex, "
                        f"got {mode!r}"
                    )
            src = p.expr()
            if p.next().text.lower() != "with":
                raise ValueError("KQL: parse needs 'with' before the pattern")
            pieces: list[tuple[str, str]] = []  # (kind, text)
            while p.peek() is not None:
                t = p.next()
                if t.kind == "str":
                    pieces.append(("lit", t.text[1:-1]))
                elif t.kind == "word":
                    pieces.append(("name", t.text))
                else:
                    raise ValueError(
                        f"KQL: parse pattern allows only string literals "
                        f"and column names, got {t.text!r}"
                    )
            names = [x for k, x in pieces if k == "name"]
            if not names:
                raise ValueError("KQL: parse pattern extracts no columns")
            rx = "^"  # Kusto matches from the start in both modes
            for i, (k, x) in enumerate(pieces):
                if k == "lit":
                    # kind=regex: the literals ARE regex fragments
                    # (Kusto's regex mode); simple mode escapes them.
                    # Capturing groups inside fragments would shift the
                    # name→group mapping — require (?:...) instead.
                    # '(?<name>...)' (Java named capture) is STILL a
                    # capturing group, so only '(?<=' / '(?<!'
                    # lookbehinds pass the '(?<' spelling.
                    if mode == "regex" and re.search(
                        r"(?<!\\)\((?!\?(?::|=|!|<=|<!))", x
                    ):
                        raise ValueError(
                            "KQL: parse kind=regex fragments must use "
                            "non-capturing groups (?:...) — captures "
                            "belong to the named placeholders"
                        )
                    rx += x if mode == "regex" else re.escape(x)
                elif i == len(pieces) - 1:
                    rx += "(.*)"  # trailing capture takes the rest
                else:
                    rx += "(.*?)"
            if verb == "parse-where":
                # parse-where drops the rows the pattern rejects — one
                # rlike probe with the same anchored regex, pushed as an
                # ordinary filter (prunable, codegen'd)
                df = df.filter(src.rlike(rx))
            for gi, cname in enumerate(names, start=1):
                df = df.withColumn(cname, F.regexp_extract(src, rx, gi))
        elif verb == "extend":
            while True:
                if p.peek() is not None and p.peek().text == "(":
                    # tuple-destructuring extend — Kusto's multi-output
                    # scalar functions: | extend (b, s, t, r) =
                    # series_decompose(y, 12). The RHS must compile to
                    # a STRUCT column; each listed name binds one field
                    # positionally.
                    p.expect("(")
                    names = [p.next().text]
                    while p.accept(","):
                        names.append(p.next().text)
                    p.expect(")")
                    p.expect("=")
                    tmp = "__kql_tuple"
                    df = df.withColumn(tmp, p.expr())
                    fields = df.schema[tmp].dataType
                    from pyspark.sql.types import StructType as _St

                    if not isinstance(fields, _St):
                        raise ValueError(
                            "KQL: tuple extend needs a multi-output "
                            "function on the right-hand side"
                        )
                    if len(fields) != len(names):
                        raise ValueError(
                            f"KQL: tuple extend binds {len(names)} names "
                            f"but the function returns {len(fields)} values"
                        )
                    for nm, fld in zip(names, fields.names):
                        df = df.withColumn(nm, F.col(tmp).getField(fld))
                    df = df.drop(tmp)
                else:
                    name = p.next().text
                    p.expect("=")
                    nxt = p.peek()
                    if (
                        nxt is not None
                        and nxt.kind == "word"
                        and nxt.text.lower()
                        in (
                            "row_rank_dense",
                            "row_rank_min",
                            "row_window_session",
                        )
                    ):
                        # Kusto's serialized rank/session functions.
                        # They need STAGED compiles (a change indicator
                        # column, then a cumulative window over it —
                        # Spark forbids nesting one window function
                        # inside another in a single expression), so
                        # they are handled at the extend level, like
                        # the series tuple extends. Legal only over a
                        # serialized input (after sort by / top), same
                        # rule and same single-task scale note as
                        # row_number()/prev()/next().
                        df = _compile_row_rank(df, p, name, ser)
                    else:
                        df = df.withColumn(name, p.expr())
                if not p.accept(","):
                    break
        elif verb == "mv-expand":
            # mv-expand [with_itemindex = Idx] [Name =] ArrayCol
            #           [to typeof(T)] [limit N]
            # Kusto's dynamic-array fan-out — compiles to explode (or
            # posexplode when the 0-based element index is requested),
            # the same generator Spark uses for every flatten.
            # `to typeof(T)` casts each element (Kusto's typed
            # expansion — dynamic leaves are otherwise strings after
            # bag_unpack); `limit N` caps expansion per RECORD (Kusto
            # semantics), compiled to a slice BEFORE the generator so
            # oversized arrays never fan out — at scale that bound is
            # what keeps a hot record from exploding a partition.
            idx_name = None
            t = p.next().text
            if t.lower() == "with_itemindex":
                p.expect("=")
                idx_name = p.next().text
                t = p.next().text
            name = t
            src = name
            if p.accept("="):
                src = p.next().text
            arr = F.col(src)
            cast_ty = None
            if p.peek() is not None and p.peek().text.lower() == "to":
                p.next()
                if p.next().text.lower() != "typeof":
                    raise ValueError("KQL: mv-expand expects 'to typeof(T)'")
                p.expect("(")
                ty = p.next().text.lower()
                p.expect(")")
                cast_ty = _TYPEOF.get(ty)
                if cast_ty is None:
                    raise ValueError(f"KQL: unsupported typeof({ty})")
            if p.peek() is not None and p.peek().text.lower() == "limit":
                p.next()
                arr = F.slice(arr, 1, int(p.next().text))
            if idx_name is not None:
                keep = [c for c in df.columns if c != name]
                df = df.select(
                    *keep, F.posexplode(arr).alias(idx_name, name)
                )
            else:
                df = df.withColumn(name, F.explode(arr))
            if cast_ty is not None:
                df = df.withColumn(name, F.col(name).cast(cast_ty))
        elif verb == "distinct":
            df = df.select(*p.ident_list()).distinct()
        elif verb == "sample":
            # Kusto's sample is random with NO determinism promise; this
            # engine strengthens it to a deterministic pseudo-random
            # sample (hash-ordered over the row's columns) so replays,
            # retries, and the differential gate all see the same rows.
            # TakeOrderedAndProject keeps it a top-k, never a full sort.
            n = int(p.next().text)
            df = df.orderBy(F.xxhash64(*df.columns)).limit(n)
        elif verb == "sample-distinct":
            # sample-distinct N of Col — deterministic for the same
            # reason; emits the single distinct column, Kusto-style.
            n = int(p.next().text)
            if p.next().text.lower() != "of":
                raise ValueError("KQL: sample-distinct needs 'of <column>'")
            col = p.next().text
            df = (
                df.select(col)
                .distinct()
                .orderBy(F.xxhash64(F.col(col)))
                .limit(n)
            )
        elif verb == "count":
            # Kusto's terminal count names its column exactly `Count`
            # (`summarize count()` without a name stays `count_`)
            df = df.agg(F.count("*").alias("Count"))
        elif verb == "search":
            # search 'term' — case-insensitive containment over every
            # string column (Kusto's unscoped search, restricted to the
            # current tabular input). Compiles to one OR-chain of
            # contains() probes: a single narrow scan, no UDF. Kusto
            # resolves this against its term index; a columnar engine's
            # equivalent is exactly this predicate (optionally behind a
            # bloom/zonemap skip at rest).
            t = p.next()
            if t.kind != "str":
                raise ValueError("KQL: search needs a string literal")
            term = t.text[1:-1].lower()
            from pyspark.sql.types import StringType

            scols = [
                f.name for f in df.schema.fields
                if isinstance(f.dataType, StringType)
            ]
            if not scols:
                raise ValueError("KQL: search found no string columns")
            pred = None
            for c in scols:
                cc = F.lower(F.col(c)).contains(term)
                pred = cc if pred is None else (pred | cc)
            df = df.filter(pred)
        elif verb == "getschema":
            # metadata-only: one driver-side row per column, never a scan
            rows = [
                (f.name, i, f.dataType.simpleString())
                for i, f in enumerate(df.schema.fields)
            ]
            df = df.sparkSession.createDataFrame(
                rows, "ColumnName string, ColumnOrdinal int, DataType string"
            )
        elif verb == "evaluate":
            # evaluate pivot(pivotCol [, agg(valueCol)]) — every other
            # column is a group key, one output column per pivot value.
            # Compiles to relational groupBy().pivot(): Spark first runs
            # a bounded distinct-values job (spark.sql.pivotMaxValues
            # caps it) to fix the output schema, then ONE aggregate pass
            # with map-side partials — the Kusto-parity cost of not
            # declaring the value list in the query text.
            ev_fn = p.next().text.lower()
            if ev_fn == "narrow":
                # evaluate narrow() — unpivot EVERY column to
                # (Row, Column, Value) string triples, Kusto's debug /
                # generic-renderer plugin. Row is the 0-based serialized
                # row index, so (as with serialize/row_number) a
                # distributed engine demands an explicit order first —
                # precede with 'sort by'. Compiles to ONE projection:
                # row_number over the established order, then an
                # inline array<struct>-explode (the same generator as
                # stack/UNPIVOT — no shuffle beyond the ordering
                # window; column count is schema-bounded so the fan-out
                # factor is a constant).
                p.expect("(")
                p.expect(")")
                if p.peek() is not None:
                    raise ValueError(
                        f"KQL: trailing tokens in stage {stage!r}: "
                        f"{p.peek().text!r}"
                    )
                if prev_ser is None:
                    raise ValueError(
                        "KQL: evaluate narrow() needs an established row "
                        "order in a distributed engine — precede it with "
                        "'sort by'"
                    )
                w = Window.orderBy(*prev_ser)
                kv = F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("Column"),
                            F.col(c).cast("string").alias("Value"),
                        )
                        for c in df.columns
                    ]
                )
                df = (
                    df.withColumn(
                        "__kql_row",
                        (F.row_number().over(w) - 1).cast("long"),
                    )
                    .select(
                        F.col("__kql_row").alias("Row"),
                        F.explode(kv).alias("__kv"),
                    )
                    .select("Row", "__kv.Column", "__kv.Value")
                )
                continue
            if ev_fn == "bag_unpack":
                # evaluate bag_unpack(dynCol) — expand a dynamic
                # property bag into one column per key, Kusto's
                # schema-on-read staple. Key DISCOVERY is one bounded
                # distinct job over json_object_keys (output = the key
                # vocabulary — metadata-sized, the same cost class as
                # pivot's value-discovery pass); the EXPANSION is then
                # one codegen projection of get_json_object probes per
                # discovered key — no per-row parse materialization
                # (the b15a/k22 plan shape). Values come out as
                # strings, Kusto's dynamic-leaf behavior; cast
                # downstream. Keys sort lexically for a deterministic
                # schema; a key colliding with an existing column is an
                # explicit error (Kusto renames unpredictably — an
                # error is the testable contract).
                p.expect("(")
                bcol = p.next().text
                p.expect(")")
                if bcol not in df.columns:
                    raise ValueError(
                        f"KQL: bag_unpack column {bcol!r} not found"
                    )
                keys2 = sorted(
                    r[0]
                    for r in df.select(
                        F.explode(F.json_object_keys(F.col(bcol))).alias("k")
                    )
                    .distinct()
                    .collect()  # bounded: key vocabulary, never rows
                )
                clash = [k for k in keys2 if k in df.columns]
                if clash:
                    raise ValueError(
                        f"KQL: bag_unpack keys collide with existing "
                        f"columns: {clash}"
                    )
                df = df.select(
                    *[c for c in df.columns if c != bcol],
                    *[
                        F.get_json_object(F.col(bcol), f"$.{k}").alias(k)
                        for k in keys2
                    ],
                )
                if p.peek() is not None:
                    raise ValueError(
                        f"KQL: trailing tokens in stage {stage!r}: "
                        f"{p.peek().text!r}"
                    )
                continue
            if ev_fn == "basket":
                # evaluate basket([threshold]) — see _compile_basket.
                p.expect("(")
                thr = 0.05
                if not p.accept(")"):
                    thr = float(p.next().text)
                    p.expect(")")
                if p.peek() is not None:
                    raise ValueError(
                        f"KQL: trailing tokens in stage {stage!r}: "
                        f"{p.peek().text!r}"
                    )
                df = _compile_basket(df, thr)
                continue
            if ev_fn in ("sliding_window_counts", "activity_engagement"):
                # evaluate sliding_window_counts(Id, Ts, Start, End,
                #   Lookback, Bin) / activity_engagement(Id, Ts,
                #   Start, End, Inner, Outer) — see the compile
                # functions for the pinned window contracts.
                p.expect("(")
                aw_id = p.next().text
                p.expect(",")
                aw_ts = p.next().text
                p.expect(",")
                aw_start = p._datetime_literal()
                p.expect(",")
                aw_end = p._datetime_literal()
                p.expect(",")
                aw_d1 = p._duration_seconds(p.next().text)
                p.expect(",")
                aw_d2 = p._duration_seconds(p.next().text)
                p.expect(")")
                if p.peek() is not None:
                    raise ValueError(
                        f"KQL: trailing tokens in stage {stage!r}: "
                        f"{p.peek().text!r}"
                    )
                for c in (aw_id, aw_ts):
                    if c not in df.columns:
                        raise ValueError(
                            f"KQL: {ev_fn} column {c!r} not found"
                        )
                if ev_fn == "sliding_window_counts":
                    df = _compile_sliding_window_counts(
                        df, aw_id, aw_ts, aw_start, aw_end, aw_d1, aw_d2
                    )
                else:
                    df = _compile_activity_engagement(
                        df, aw_id, aw_ts, aw_start, aw_end, aw_d1, aw_d2
                    )
                continue
            if ev_fn == "active_users_count":
                # evaluate active_users_count(Id, Ts, Start, End,
                #   Lookback, Period, ActivePeriodsCount, Bin) — see
                # _compile_active_users_count for the pinned contract.
                p.expect("(")
                au_id = p.next().text
                p.expect(",")
                au_ts = p.next().text
                p.expect(",")
                au_start = p._datetime_literal()
                p.expect(",")
                au_end = p._datetime_literal()
                p.expect(",")
                au_look = p._duration_seconds(p.next().text)
                p.expect(",")
                au_period = p._duration_seconds(p.next().text)
                p.expect(",")
                t = p.next()
                if t.kind != "num" or "." in t.text:
                    raise ValueError(
                        "KQL: active_users_count ActivePeriodsCount "
                        "must be an integer literal"
                    )
                au_min = int(t.text)
                p.expect(",")
                au_bin = p._duration_seconds(p.next().text)
                p.expect(")")
                if p.peek() is not None:
                    raise ValueError(
                        f"KQL: trailing tokens in stage {stage!r}: "
                        f"{p.peek().text!r}"
                    )
                for c in (au_id, au_ts):
                    if c not in df.columns:
                        raise ValueError(
                            f"KQL: active_users_count column {c!r} not "
                            "found"
                        )
                df = _compile_active_users_count(
                    df, au_id, au_ts, au_start, au_end, au_look,
                    au_period, au_min, au_bin,
                )
                ser = None
                continue
            if ev_fn in (
                "activity_counts_metrics",
                "new_activity_metrics",
                "session_count",
            ):
                # evaluate activity_counts_metrics(Id, Ts, Start, End,
                #   Step) / new_activity_metrics(Id, Ts, Start, End,
                #   Window) / session_count(Id, Ts, Start, End, Bin,
                #   LookBack) — see the compile functions for the
                #   pinned contracts.
                p.expect("(")
                ac_id = p.next().text
                p.expect(",")
                ac_ts = p.next().text
                p.expect(",")
                ac_start = p._datetime_literal()
                p.expect(",")
                ac_end = p._datetime_literal()
                p.expect(",")
                ac_d1 = p._duration_seconds(p.next().text)
                ac_d2 = None
                if ev_fn == "session_count":
                    p.expect(",")
                    ac_d2 = p._duration_seconds(p.next().text)
                p.expect(")")
                if p.peek() is not None:
                    raise ValueError(
                        f"KQL: trailing tokens in stage {stage!r}: "
                        f"{p.peek().text!r}"
                    )
                for c in (ac_id, ac_ts):
                    if c not in df.columns:
                        raise ValueError(
                            f"KQL: {ev_fn} column {c!r} not found"
                        )
                if ev_fn == "activity_counts_metrics":
                    df = _compile_activity_counts_metrics(
                        df, ac_id, ac_ts, ac_start, ac_end, ac_d1
                    )
                elif ev_fn == "new_activity_metrics":
                    df = _compile_new_activity_metrics(
                        df, ac_id, ac_ts, ac_start, ac_end, ac_d1
                    )
                else:
                    df = _compile_session_count(
                        df, ac_id, ac_ts, ac_start, ac_end, ac_d1, ac_d2
                    )
                continue
            if ev_fn == "rolling_percentile":
                # evaluate rolling_percentile(Val, P, Ts, Start, End,
                #   Bin, BinsPerWindow) — see the compile function.
                p.expect("(")
                rp_val = p.next().text
                p.expect(",")
                rp_p = float(p.next().text)
                p.expect(",")
                rp_ts = p.next().text
                p.expect(",")
                rp_start = p._datetime_literal()
                p.expect(",")
                rp_end = p._datetime_literal()
                p.expect(",")
                rp_bin = p._duration_seconds(p.next().text)
                p.expect(",")
                rp_n = int(p.next().text)
                p.expect(")")
                if p.peek() is not None:
                    raise ValueError(
                        f"KQL: trailing tokens in stage {stage!r}: "
                        f"{p.peek().text!r}"
                    )
                for c in (rp_val, rp_ts):
                    if c not in df.columns:
                        raise ValueError(
                            f"KQL: rolling_percentile column {c!r} not found"
                        )
                if not 0 <= rp_p <= 100:
                    raise ValueError(
                        "KQL: rolling_percentile needs 0 <= P <= 100"
                    )
                if rp_n < 1:
                    raise ValueError(
                        "KQL: rolling_percentile needs BinsPerWindow >= 1"
                    )
                df = _compile_rolling_percentile(
                    df, rp_val, rp_p, rp_ts, rp_start, rp_end, rp_bin, rp_n
                )
                continue
            if ev_fn == "diffpatterns":
                # evaluate diffpatterns(SplitCol, 'A', 'B') — see
                # _compile_diffpatterns for the pinned contract.
                p.expect("(")
                dp_col = p.next().text
                p.expect(",")
                ta = p.next()
                p.expect(",")
                tb = p.next()
                p.expect(")")
                if ta.kind != "str" or tb.kind != "str":
                    raise ValueError(
                        "KQL: diffpatterns split values must be string "
                        "literals"
                    )
                if p.peek() is not None:
                    raise ValueError(
                        f"KQL: trailing tokens in stage {stage!r}: "
                        f"{p.peek().text!r}"
                    )
                df = _compile_diffpatterns(
                    df, dp_col, ta.text[1:-1], tb.text[1:-1]
                )
                continue
            if ev_fn == "autocluster":
                # evaluate autocluster([size_weight]) — see
                # _compile_autocluster for the pinned contract.
                p.expect("(")
                sw = 0.5
                if not p.accept(")"):
                    sw = float(p.next().text)
                    p.expect(")")
                if p.peek() is not None:
                    raise ValueError(
                        f"KQL: trailing tokens in stage {stage!r}: "
                        f"{p.peek().text!r}"
                    )
                df = _compile_autocluster(df, sw)
                continue
            if ev_fn == "sequence_detect":
                # evaluate sequence_detect(ts, stepWin, spanWin,
                #   f1, f2, .., key1, ..) — flags are BOOLEAN columns
                # (extend them first), keys everything after; see
                # _compile_sequence_detect for the pinned automaton.
                p.expect("(")
                sd_ts = p.next().text
                p.expect(",")
                sd_step = p._duration_seconds(p.next().text)
                p.expect(",")
                sd_span = p._duration_seconds(p.next().text)
                dtypes = dict(df.dtypes)
                sd_flags: list[str] = []
                sd_keys: list[str] = []
                while p.accept(","):
                    c = p.next().text
                    if c not in dtypes:
                        raise ValueError(
                            f"KQL: sequence_detect column {c!r} not found"
                        )
                    if dtypes[c] == "boolean":
                        if sd_keys:
                            raise ValueError(
                                "KQL: sequence_detect flag columns must "
                                "precede the key columns"
                            )
                        sd_flags.append(c)
                    else:
                        sd_keys.append(c)
                p.expect(")")
                if sd_ts not in dtypes:
                    raise ValueError(
                        f"KQL: sequence_detect timeline {sd_ts!r} not found"
                    )
                if len(sd_flags) < 2 or not sd_keys:
                    raise ValueError(
                        "KQL: sequence_detect needs >= 2 boolean flag "
                        "columns and >= 1 (non-boolean) key column"
                    )
                if p.peek() is not None:
                    raise ValueError(
                        f"KQL: trailing tokens in stage {stage!r}: "
                        f"{p.peek().text!r}"
                    )
                df = _compile_sequence_detect(
                    df, sd_ts, sd_step, sd_span, sd_flags, sd_keys
                )
                ser = None
                continue
            if ev_fn == "dcount_intersect":
                # evaluate dcount_intersect(h1, h2 [, h3]) — Kusto's
                # sketch-intersection plugin over hll() columns:
                # intersection cardinalities by inclusion-exclusion,
                # computed entirely from per-row sketch UNIONS
                # (intersection sketches don't exist; register-max
                # unions do). s0 = |A|, s1 = |A∩B|,
                # s2 = |A∩B∩C| = ΣsI − Σ|pair unions| + |A∪B∪C|.
                # Pure per-row JVM sketch ops — no shuffle, no UDF;
                # exact while the sketches are in coupon range, the
                # same contract as dcount_hll.
                p.expect("(")
                hcols = [p.next().text]
                while p.accept(","):
                    hcols.append(p.next().text)
                p.expect(")")
                if not 2 <= len(hcols) <= 3:
                    raise ValueError(
                        "KQL: dcount_intersect takes 2 or 3 hll columns"
                    )
                est = F.hll_sketch_estimate
                uni = F.hll_union
                c = [F.col(h) for h in hcols]
                df = df.withColumn("s0", est(c[0]))
                s01 = est(c[0]) + est(c[1]) - est(uni(c[0], c[1]))
                df = df.withColumn("s1", s01)
                if len(hcols) == 3:
                    pair = (
                        est(uni(c[0], c[1]))
                        + est(uni(c[0], c[2]))
                        + est(uni(c[1], c[2]))
                    )
                    allu = est(uni(uni(c[0], c[1]), c[2]))
                    df = df.withColumn(
                        "s2",
                        est(c[0]) + est(c[1]) + est(c[2]) - pair + allu,
                    )
                ser = None
                continue
            if ev_fn == "ipv4_lookup":
                # evaluate ipv4_lookup(Dim, srcIpCol, cidrCol
                #   [, return_unmatched = true]) — see
                # _compile_ipv4_lookup for the bounded-fan LPM shape.
                p.expect("(")
                dim_name = p.next().text
                p.expect(",")
                ipl_src = p.next().text
                p.expect(",")
                ipl_net = p.next().text
                ipl_unmatched = False
                if p.accept(","):
                    if p.next().text.lower() != "return_unmatched":
                        raise ValueError(
                            "KQL: ipv4_lookup supports only the "
                            "return_unmatched option"
                        )
                    p.expect("=")
                    ipl_unmatched = p.next().text.lower() == "true"
                p.expect(")")
                if dim_name not in tables:
                    raise ValueError(
                        f"KQL: ipv4_lookup dim table {dim_name!r} not "
                        f"found — bind it with 'let' or 'as'"
                    )
                if ipl_src not in df.columns:
                    raise ValueError(
                        f"KQL: ipv4_lookup source column {ipl_src!r} "
                        f"not found"
                    )
                df = _compile_ipv4_lookup(
                    df, tables[dim_name], ipl_src, ipl_net, ipl_unmatched
                )
                ser = None
                continue
            if ev_fn == "funnel_sequence_completion":
                # evaluate funnel_sequence_completion(id, ts, bin,
                #   state, ('s1', ...), (1h, 1d, ...)) — see
                # _compile_funnel_completion.
                p.expect("(")
                fc_id = p.next().text
                p.expect(",")
                fc_ts = p.next().text
                p.expect(",")
                fc_bin = p._duration_seconds(p.next().text)
                p.expect(",")
                fc_state = p.next().text
                p.expect(",")
                p.expect("(")
                fc_states = []
                while True:
                    t = p.next()
                    if t.kind != "str":
                        raise ValueError(
                            "KQL: funnel_sequence_completion states "
                            "must be string literals"
                        )
                    fc_states.append(t.text[1:-1])
                    if not p.accept(","):
                        break
                p.expect(")")
                p.expect(",")
                p.expect("(")
                fc_wins = []
                while True:
                    t = p.next()
                    if t.kind != "dur":
                        raise ValueError(
                            "KQL: funnel_sequence_completion windows "
                            "must be duration literals"
                        )
                    fc_wins.append(p._duration_seconds(t.text))
                    if not p.accept(","):
                        break
                p.expect(")")
                p.expect(")")
                for c in (fc_id, fc_ts, fc_state):
                    if c not in df.columns:
                        raise ValueError(
                            f"KQL: funnel_sequence_completion column "
                            f"{c!r} not found"
                        )
                if len(fc_states) < 2:
                    raise ValueError(
                        "KQL: funnel_sequence_completion needs >= 2 "
                        "states"
                    )
                df = _compile_funnel_completion(
                    df, fc_id, fc_ts, fc_bin, fc_state, fc_states,
                    fc_wins,
                )
                ser = None
                continue
            if ev_fn == "funnel_sequence":
                # evaluate funnel_sequence(id, ts, bin, state,
                #   ('s1', 's2', ...)) — see _compile_funnel_sequence.
                p.expect("(")
                fs_id = p.next().text
                p.expect(",")
                fs_ts = p.next().text
                p.expect(",")
                fs_bin = p._duration_seconds(p.next().text)
                p.expect(",")
                fs_state = p.next().text
                p.expect(",")
                p.expect("(")
                fs_states = []
                while True:
                    t = p.next()
                    if t.kind != "str":
                        raise ValueError(
                            "KQL: funnel_sequence states must be string "
                            "literals"
                        )
                    fs_states.append(t.text[1:-1])
                    if not p.accept(","):
                        break
                p.expect(")")
                p.expect(")")
                for c in (fs_id, fs_ts, fs_state):
                    if c not in df.columns:
                        raise ValueError(
                            f"KQL: funnel_sequence column {c!r} not found"
                        )
                if len(fs_states) < 2:
                    raise ValueError(
                        "KQL: funnel_sequence needs a sequence of >= 2 "
                        "states"
                    )
                if p.peek() is not None:
                    raise ValueError(
                        f"KQL: trailing tokens in stage {stage!r}: "
                        f"{p.peek().text!r}"
                    )
                df = _compile_funnel_sequence(
                    df, fs_id, fs_ts, fs_bin, fs_state, fs_states
                )
                ser = None
                continue
            if ev_fn == "python":
                # SECURITY GATE: the plugin exec()s the script text on
                # executors; upstream Kusto ships it disabled until a
                # cluster admin enables it, so this engine requires the
                # same explicit opt-in — kql(..., allow_python=True).
                if not _KQL_ALLOW_PYTHON.get():
                    raise PermissionError(
                        "KQL: evaluate python() is disabled by default "
                        "(the script executes on the cluster). Opt in "
                        "with kql(..., allow_python=True) only for "
                        "query text you trust at UDF-registration "
                        "trust level."
                    )
                # evaluate python(typeof(...), 'script') — Kusto's
                # inline-Python plugin. Kusto runs the script in a
                # sandbox per data shard with the shard's rows bound to
                # a pandas DataFrame `df` and reads the output from
                # `result`; the Spark-first mapping is therefore ONE
                # Arrow mapInPandas boundary whose kernel concatenates
                # the partition's record batches, execs the script once
                # per partition, and emits `result` coerced to the
                # typeof() schema. Partition-local semantics IS the
                # Kusto contract (cross-shard state never exists there
                # either); scripts that need global state must
                # pre-aggregate in KQL, exactly as on Kusto.
                #
                # typeof(*) keeps every input column (current engine
                # types); additional `name:type` entries append typed
                # output columns; without `*` the list is the full
                # output schema. Trust model: the script executes with
                # the engine's Python runtime (same trust level as
                # registering a UDF) — this engine does not re-create
                # Kusto's nested sandbox.
                p.expect("(")
                tw = p.next()
                if tw.text.lower() != "typeof":
                    raise ValueError(
                        "KQL: evaluate python() first argument must be "
                        "typeof(...)"
                    )
                p.expect("(")
                py_star = False
                py_fields: list[tuple[str, str]] = []
                while True:
                    t = p.next()
                    if t.text == "*":
                        py_star = True
                    else:
                        fname = t.text
                        p.expect(":")
                        py_fields.append((fname, p.next().text.lower()))
                    if not p.accept(","):
                        break
                p.expect(")")
                p.expect(",")
                ts_tok = p.next()
                if ts_tok.kind != "str":
                    raise ValueError(
                        "KQL: evaluate python() script must be a string "
                        "literal"
                    )
                py_script = _unescape_string_literal(ts_tok.text)
                p.expect(")")
                if p.peek() is not None:
                    raise ValueError(
                        f"KQL: trailing tokens in stage {stage!r}: "
                        f"{p.peek().text!r}"
                    )
                df = _compile_python_plugin(df, py_star, py_fields, py_script)
                ser = None
                continue
            if ev_fn != "pivot":
                raise ValueError(
                    "KQL: only 'evaluate pivot(...)', 'evaluate "
                    "bag_unpack(...)', 'evaluate basket(...)', 'evaluate "
                    "narrow()', 'evaluate python(...)', 'evaluate "
                    "sequence_detect(...)' and "
                    "'evaluate funnel_sequence(...)' are supported"
                )
            p.expect("(")
            pcol = p.next().text
            if p.accept(","):
                fn = p.next().text.lower()
                if fn not in _AGGS:
                    raise ValueError(f"KQL: unsupported pivot aggregate {fn!r}")
                p.expect("(")
                src = None
                if not p.accept(")"):
                    src = p.next().text
                    p.expect(")")
                # Pivot rejects count(*) — count a constant instead
                agg = (
                    F.count(F.lit(1))
                    if fn == "count" and src is None
                    else _AGGS[fn](src)
                )
            else:
                fn, src = "count", None
                agg = F.count(F.lit(1))
            p.expect(")")
            keys = [c for c in df.columns if c != pcol and c != src]
            df = df.groupBy(*keys).pivot(pcol).agg(agg)
        elif verb == "partition":
            # partition by Col ( <subquery> ) — Kusto's per-partition
            # subquery operator, supported for the two subquery shapes
            # that dominate its real use AND have a sound distributed
            # plan needing no per-key re-execution:
            #
            # 1. `top N by expr [asc|desc]` — compiles to row_number
            #    over (partitionBy key, orderBy expr) <= N, which
            #    Catalyst runs as WindowGroupLimit — per-group partial
            #    top-k BEFORE the shuffle, the b39 LATERAL plan.
            # 2. `sort by c1 [asc|desc], ... | scan [with_match_id=X]
            #    with (step s1: pred; ...)` — Kusto's sequence-match
            #    state machine, per partition key. Step predicates are
            #    ordinary KQL expressions compiled to Catalyst columns
            #    and JVM-evaluated BEFORE the Python boundary; only the
            #    inherently-sequential automaton walk (greedy matching
            #    over the per-key sorted stream) runs in an Arrow
            #    applyInPandas — one shuffle on the key, keys scanned
            #    in parallel, no driver loop. Supported subset: one
            #    active sequence per key (greedy non-overlapping
            #    matching — the funnel/session shape `scan` exists
            #    for); Kusto's simultaneous-sequence semantics with
            #    `declare()` state columns is out of scope, as is a
            #    GLOBAL serialized scan (a repartition(1) degeneration
            #    this engine refuses by design — wrap scan in
            #    partition, which is how Kusto pipelines deploy it at
            #    scale anyway). Emits the matched rows plus `step`
            #    (matched step name) and `match_id` (per-key sequence
            #    ordinal; Kusto's is globally unique).
            #
            # Kusto's other subquery shapes either degenerate to plain
            # operators (summarize-by == summarize by key) or imply
            # driver-side per-key loops this engine refuses by design.
            p.expect("by")
            keycol = p.next().text
            p.expect("(")
            inner = p.next().text.lower()
            if inner == "top":
                n = int(p.next().text)
                p.expect("by")
                key = p.expr()
                asc = bool(p.accept("asc"))
                if not asc:
                    p.accept("desc")
                p.expect(")")
                w = Window.partitionBy(keycol).orderBy(
                    key.asc() if asc else key.desc()
                )
                df = (
                    df.withColumn("__kql_pn", F.row_number().over(w))
                    .filter(F.col("__kql_pn") <= n)
                    .drop("__kql_pn")
                )
            elif inner in ("sort", "order"):
                p.expect("by")
                sort_names: list[str] = []
                sort_asc: list[bool] = []
                while True:
                    sort_names.append(p.next().text)
                    if p.accept("asc"):
                        sort_asc.append(True)
                    elif p.accept("desc"):
                        sort_asc.append(False)
                    else:
                        sort_asc.append(True)
                    if not p.accept(","):
                        break
                p.expect("|")
                if p.next().text.lower() != "scan":
                    raise ValueError(
                        "KQL: partition subquery must be 'top ...' or "
                        "'sort by ... | scan ...'"
                    )
                match_col = "match_id"
                if (
                    p.peek()
                    and p.peek().text.lower() == "with_match_id"
                ):
                    p.next()
                    p.expect("=")
                    match_col = p.next().text
                p.expect("with")
                p.expect("(")
                steps: list[tuple[str, Column]] = []
                while True:
                    if p.peek() and p.peek().text == ")":
                        break
                    if p.next().text.lower() != "step":
                        raise ValueError("KQL: expected 'step' in scan")
                    sname = p.next().text
                    p.expect(":")
                    steps.append((sname, p.expr()))
                    if not p.accept(";"):
                        break
                p.expect(")")
                p.expect(")")
                if not steps:
                    raise ValueError("KQL: scan needs at least one step")
                df = _compile_scan(
                    df, keycol, sort_names, sort_asc, steps, match_col
                )
            else:
                raise ValueError(
                    "KQL: partition supports only a 'top N by <expr>' or "
                    f"'sort by ... | scan ...' subquery, got {inner!r}"
                )
        elif verb == "reduce":
            # reduce by Col — Kusto's log-pattern clustering. Kusto's
            # plugin is heuristic (undocumented similarity grouping);
            # this engine pins the deterministic core that covers the
            # dominant use (collapsing variable tokens in log lines):
            # the pattern is the value with every digit run replaced
            # by '*', and rows group by that pattern. Output matches
            # Kusto's shape: Pattern, Count, Representative (the
            # smallest raw value — Kusto picks an arbitrary exemplar;
            # min is the replay-stable choice). One map-side-combined
            # groupBy; the pattern expr is codegen regexp_replace
            # (Java∩RE2 regex subset, the d21 contract).
            p.expect("by")
            rcol = p.next().text
            if rcol not in df.columns:
                raise ValueError(f"KQL: reduce by column {rcol!r} not found")
            if p.peek() is not None:
                raise ValueError(
                    f"KQL: trailing tokens in stage {stage!r}: "
                    f"{p.peek().text!r}"
                )
            df = (
                df.groupBy(
                    F.regexp_replace(F.col(rcol), "[0-9]+", "*").alias(
                        "Pattern"
                    )
                )
                .agg(
                    F.count("*").alias("Count"),
                    F.min(rcol).alias("Representative"),
                )
                .orderBy(F.desc("Count"), "Pattern")
            )
        elif verb == "render":
            # presentation hint (A17): the relational result is exactly
            # the preceding pipeline; the chart type is recorded on the
            # DataFrame for a client to read via render_spec(). Only a
            # well-formed `with (key [= value], ...)` property clause
            # may follow — it is validated, then ignored (presentation
            # properties are a client concern); arbitrary trailing
            # tokens are an error, not silently swallowed.
            render = p.next().text.lower()
            if p.peek() is not None:
                if p.next().text.lower() != "with":
                    raise ValueError(
                        "KQL: render accepts only a 'with (...)' "
                        "property clause after the chart type"
                    )
                p.expect("(")
                while True:
                    p.next()  # property name
                    if p.accept("="):
                        p.next()  # property value (literal or ident)
                    if not p.accept(","):
                        break
                p.expect(")")
                if p.peek() is not None:
                    raise ValueError(
                        f"KQL: trailing tokens after render properties: "
                        f"{p.peek().text!r}"
                    )
        else:
            raise ValueError(f"KQL: unsupported operator {verb!r}")
        if render is None and p.peek() is not None:
            raise ValueError(
                f"KQL: trailing tokens in stage {stage!r}: {p.peek().text!r}"
            )
    if _graph is not None:
        raise ValueError(
            "KQL: make-graph must be followed by graph-match, "
            "graph-shortest-paths or graph-mark-components"
        )
    if render is not None:
        # break object identity before tagging: for `T | render x` the
        # pipeline may still BE the caller's table binding, and setting
        # the attribute there would leak the hint into other queries
        # sharing the binding (the projection is a no-op for Catalyst)
        df = df.select("*")
        df._kql_render = render
    return df


def render_spec(df: DataFrame) -> str | None:
    """The chart type a trailing ``render`` stage requested, or None.
    The engine's contract ends at the relational result (SURVEY §2A
    A17); this is the hint a presentation client consumes —
    ``df.toPandas()`` at the driver boundary is the hand-off."""
    return getattr(df, "_kql_render", None)


#: Kusto chart type → Vega-Lite mark. Types without a sensible mark
#: (table, card) intentionally absent — render_vegalite returns None.
_VEGA_MARKS = {
    "barchart": "bar",
    "columnchart": "bar",
    "linechart": "line",
    "timechart": "line",
    "areachart": "area",
    "scatterchart": "point",
    "piechart": "arc",
}


def render_vegalite(df: DataFrame, limit: int = 1000) -> dict | None:
    """Materialize a trailing ``render`` hint as a self-contained
    VEGA-LITE spec (plain JSON-able dict — feed it to any Vega
    renderer; no plotting library is imported). This is the
    presentation HAND-OFF, not a query operator: the relational
    result is unchanged, and the collect is bounded by ``limit``
    (charts are driver-sized by definition — render after the
    aggregation, exactly as in ADX).

    Encoding inference mirrors what ADX does with its result grid:
    x = the first temporal else first non-numeric column, y = the
    first numeric column, color = the next non-numeric column when
    present (the series split). timechart/linechart sort x
    ascending. Returns None when no render hint is attached or the
    chart type has no mark form (``table``)."""
    kind = render_spec(df)
    if kind is None or kind not in _VEGA_MARKS:
        return None
    num_types = ("int", "bigint", "double", "float", "smallint", "decimal")
    temporal = [c for c, t in df.dtypes if t.startswith(("timestamp", "date"))]
    numeric = [c for c, t in df.dtypes if t.startswith(num_types)]
    nominal = [
        c for c, t in df.dtypes
        if c not in temporal and not t.startswith(num_types)
    ]
    if not numeric:
        raise ValueError("KQL render: no numeric column to plot")
    x = temporal[0] if temporal else (nominal[0] if nominal else numeric[0])
    y = numeric[0] if numeric[0] != x or len(numeric) == 1 else numeric[1]
    color = next((c for c in nominal if c != x), None)
    rows = [r.asDict() for r in df.limit(limit).collect()]
    for r in rows:  # JSON-safe: timestamps → ISO strings
        for k, v in r.items():
            if hasattr(v, "isoformat"):
                r[k] = v.isoformat()
    mark = _VEGA_MARKS[kind]
    xtype = "temporal" if x in temporal else (
        "nominal" if x in nominal else "quantitative"
    )
    if mark == "arc":
        encoding: dict = {
            "theta": {"field": y, "type": "quantitative"},
            "color": {"field": x, "type": xtype},
        }
    else:
        encoding = {
            "x": {"field": x, "type": xtype},
            "y": {"field": y, "type": "quantitative"},
        }
        if kind in ("timechart", "linechart"):
            encoding["x"]["sort"] = "ascending"
        if color is not None:
            encoding["color"] = {"field": color, "type": "nominal"}
    return {
        "$schema": "https://vega.github.io/schema/vega-lite/v5.json",
        "description": f"KQL render {kind}",
        "data": {"values": rows},
        "mark": mark,
        "encoding": encoding,
    }
