"""Cypher-style declarative graph pattern queries (SURVEY.md §2.C
"pattern DSL" surface; the one user surface VERDICT r02 flagged absent).

A compiler from a practical Cypher subset to DataFrame plans over a
:class:`PropertyGraph` — NOT a full openCypher implementation.  The
subset covers the analytical pattern-query shapes this engine's users
write (the same shapes `motif.find` answers positionally, now with the
declarative string surface):

    MATCH (a:Customer)-[e:BUYS]->(s:Supplier)<-[f:BUYS]-(b:Customer)
    WHERE e.n_items >= 3 AND a.node < b.node
    RETURN s, count(*) AS n_pairs, sum(e.weight + f.weight) AS vol
    ORDER BY n_pairs DESC, s
    LIMIT 10

Supported:
  - one MATCH with comma-separated pattern chains; node patterns
    `(v)` / `(v:Label)` / `()` / `(v:Label {node: 'c1'})`; edge
    patterns `-[e]->`, `-[e:TYPE]->`, `<-[e]-` (reverse), `-[]->`
    (anonymous), `-[e:TYPE {prop: lit}]->` (inline equality map), and
    bounded variable length `-[*1..3]->` (expanded to a UNION of
    fixed-length chains, binding `hops` when aliased via `WITH-less`
    RETURN of `hops(v)` is NOT supported — var-length matches project
    endpoints only).  NOTE the deliberate protocol divergence: a
    var-length leg WITHOUT a path variable uses WALK-REACHABILITY
    semantics (per-hop distinct endpoint pairs; relationship reuse
    allowed, so `-[*2..2]-` on a single undirected edge a-b reaches
    (a,a)) — the scalable |V|²-bounded form, pinned by the g134-family
    oracles.  Bind a named path (`p = (a)-[*..]->(b)`) for exact
    openCypher TRAIL semantics.
  - further MATCH (inner join) and OPTIONAL MATCH (left outer join)
    blocks after the first, each with its own WHERE, joined on the
    variables shared with the preceding scope; an OPTIONAL block's
    WHERE becomes part of the join condition (openCypher semantics —
    rows failing it null-extend instead of dropping), so it may
    reference outer variables.
  - CHAINED WITH stages between the pattern and RETURN: each
    `WITH [DISTINCT] items [WHERE] [ORDER BY] [SKIP n] [LIMIT n]`
    (trailing clauses in any textual order, applied left to right)
    projects/aggregates mid-query; WHERE filters the projected rows
    (the Cypher HAVING), ORDER BY + SKIP/LIMIT is the aggregate →
    top-k → expand idiom (planned as TakeOrdered — no global sort
    survives; ORDER BY without a SKIP/LIMIT cut is refused as pure
    plan tax).  The stage's aliases are the variable scope of the
    next WITH / RETURN, so multi-level rollups compile to stacked
    groupBys (`WITH c, count(*) AS deg WITH deg, count(*) AS n
    WHERE n >= 2 RETURN max(deg)`).
  - MATCH / OPTIONAL MATCH AFTER a WITH stage (the Neo4j
    aggregate-then-expand idiom): the new block joins on the pattern
    variables shared with the carried WITH aliases
    (`MATCH (c)-[e]->(s) WITH s, count(*) AS n WHERE n >= 3
    MATCH (s)<-[f]-(b) RETURN ...`).
  - WHERE / RETURN expressions are Spark SQL syntax with Cypher-style
    `var.property` references (rewritten to the bound columns).  Bare
    node variables are their string node ids; labels filter on them.
  - `RETURN *` / `WITH *` expand to the bound variables (node vars and
    WITH aliases as themselves; edge/path vars as their property
    columns, which stay addressable — `e.weight` — after a star WITH
    stage); duplicate output names are refused.
  - RETURN items with AS aliases; aggregates (count/sum/avg/min/max/
    count(DISTINCT ..)) trigger an implicit GROUP BY of the
    non-aggregate items, exactly like Cypher.
  - DISTINCT, ORDER BY (aliases or expressions), SKIP, LIMIT.
  - `p = shortestPath((a)-[:TYPE*]->(b))` as a MATCH block of its own
    (bare `*` = 1..6, or explicit `*min..max`, max <= 6): compiled to
    a multi-source semi-naive BFS seeded from the (filter-pushed)
    source set; `length(p)` / `p.len` is the hop count.  Combine with
    further MATCH/OPTIONAL MATCH blocks through shared endpoints.
    Undirected form `-[:TYPE*]-` walks the symmetric closure (distinct
    union of both orientations).  `nodes(p)` binds the node array of
    ONE representative path, pinned deterministically to the
    lexicographically smallest shortest path (the BFS then carries a
    per-pair min-path array); `relationships(p)` derives the
    consecutive-pair list from it, rendered 'src->dst' in traversal
    order (a relationship here is a distinct-pair rollup, so the pair
    is its identity).  `head(nodes(p))` / `last(nodes(p))` /
    `last(relationships(p))` rewrite to element_at in that composite
    form only (Spark's last() AGGREGATE stays a plain passthrough).
    Not available on allShortestPaths (it counts instead of
    enumerating) or the weighted form (min-cost only).
  - `p = (a)-[:TYPE*min..max]->(b)` — the GENERAL named-path binding:
    one row PER PATH with openCypher trail semantics (no relationship
    repeated within a path); binds `nodes(p)` / `relationships(p)` /
    `length(p)`.  Path enumeration is inherently output-sized (deg^k);
    anchor or label-restrict the source at scale.  To carry a path
    through WITH, project the parts (`WITH nodes(p) AS ns, ...`) —
    the bare path variable itself is not projectable.
  - `p = allShortestPaths((a)-[:TYPE*min..max]->(b))`: the counting
    form — BFS carrying per-(seed, node) path counts (Brandes' sigma
    forward pass); binds `length(p)` / `p.len` and `p.cnt` (number of
    distinct shortest paths).  Self-loop edges and a==b rows are
    excluded (never on a minimal simple path).  When the query
    references `nodes(p)` / `relationships(p)` the lowering switches
    to ENUMERATION — one row per distinct shortest path with its node
    array (p.cnt is then unbound; the row count IS the path count) —
    guarded by ALLSP_ENUM_FRONTIER_LIMIT per level, above which it
    refuses with a pointer back to the counting form.
  - WHERE pattern predicates: `EXISTS { (a)-[:T]->(b) [WHERE ..] }`
    (brace or paren delimited; the optional inner WHERE filters the
    subpattern before the semi/anti join), `NOT EXISTS { .. }`, and
    the bare sugar
    `NOT (a)-[:T]->(b)` / `(a)-[:T]->(b)`.  As top-level AND
    conjuncts they compile to LEFT-SEMI / LEFT-ANTI joins on the
    variables shared with the outer scope (the engine's q06/q07 join
    shapes; never a cartesian).  Under a top-level OR (optionally
    mixed with scalar disjuncts) each pattern branch becomes a LEFT
    join against the DISTINCT shared-key set of its subpattern,
    contributing a null/not-null existence flag; the flags are ORed
    in ONE filter (a semi-join chain would intersect the branches).
    Inside an OPTIONAL MATCH's WHERE they apply to the optional-side
    frame BEFORE the null-extending left join (openCypher: the WHERE
    decides whether the pattern matched; failing rows null-extend).
    Variables bound only inside a pattern are existential and never
    enter the scope; a disjunct that ANDs a pattern with a scalar is
    refused with a cypher-level error.
  - `count { (c)-[:T]->(s) [WHERE ..] }` COUNT subqueries as
    expressions (RETURN / WITH items, WHERE comparisons): the
    subpattern is pre-aggregated on the variables shared with the
    outer scope and LEFT-joined in (coalesce to 0 for no-match rows)
    — one hash join per subquery, never re-expanding the scope.
    Must share >=1 variable with the scope (an uncorrelated count is
    a constant — use CALL).  Refused inside an OPTIONAL MATCH WHERE.
    Also allowed as an ORDER BY sort key (RETURN tail and WITH
    stages, r9): the
    pre-aggregate joins onto the PROJECTED frame (the subpattern must
    share a returned alias) and the helper column is dropped after
    the sort — with LIMIT the tail plans as TakeOrderedAndProject.
  - `CALL { MATCH .. RETURN .. }` UNCORRELATED subqueries: the body
    compiles as an independent query (any feature, nested CALLs
    included); its result cross-joins into the scope at the CALL's
    clause position (position honored — hoisting past an aggregating
    WITH would change counts), and its RETURN aliases enter the scope
    as variables: a following MATCH either anchors on them (shared
    variable) or, when the whole scope is CALL-produced scalars,
    cross-joins against the broadcast scalar row (the global-
    threshold idiom).  CALL procedures (`CALL db.x()`) and
    `IN TRANSACTIONS` are refused.
  - `CALL { WITH c MATCH .. RETURN agg(..) AS x }` CORRELATED
    subqueries (r9 — the Neo4j-5 scope-importing form): per-row
    execution is lowered set-at-a-time, the count{} shape — the body
    after the importing WITH compiles once with the imported
    variables injected as implicit grouping keys, and the
    pre-aggregate LEFT-joins onto the scope (one aggregate + one hash
    join at any scope size; exact because an all-aggregates body is a
    pure function of the imported values).  Zero-match rows keep
    Neo4j identities: count/sum 0, collect [], avg/min/max null.
    Imports must be bare node/scalar variable names bound by the
    body's own patterns; non-aggregating bodies (row-multiplying)
    are refused with a pointer to OPTIONAL MATCH, and ORDER BY/SKIP/
    LIMIT inside the body (per-group top-k) point to the WITH
    top-k-then-expand idiom.
  - bracket list literals in expressions: `[1, 2, 3]` becomes
    `array(1, 2, 3)` (`x IN [..]` becomes a plain SQL value list);
    subscripts (`arr[0]`, `[1,2][0]`) pass through untouched.
  - UNWIND <list expr> AS var [WHERE post]: explodes a list expression
    (typically a collect_list WITH alias) into one row per element —
    the collect-then-re-expand idiom (`WITH s, collect_list(c.node) AS
    buyers UNWIND buyers AS b ...`).
  - leading WITH / leading UNWIND (r9): `WITH 'c1' AS target MATCH ..`
    and `UNWIND ['c1','c2'] AS t MATCH ..` — the Neo4j parameterization
    idioms.  Literal aliases project from a one-row seed frame and
    enter the scope as CALL-style scalars, so the following MATCH
    cross-joins the broadcast parameter frame (one row, or the small
    exploded list) and its WHERE anchors on the parameters.
  - WEIGHTED `p = shortestPath((a {node: 'x'})-[:TYPE* {cost: 'w'}]->(b))`:
    the property map names the edge-property to minimize; lowered onto
    the Bellman-Ford SSSP kernel with the hop bound as the round
    count, binding `p.cost` (min total weight over <=max-hop paths).
    Needs an anchored source; `length(p)` is not bound.

  - relationship-type disjunction `-[e:A|B]->` (also the `:A|:B`
    spelling): the leg is the UNION ALL of the type frames restricted
    to their common property columns — distinct relationships, so no
    dedup; a property present on only one type cannot be referenced
    across the union.
  - undirected patterns `-[e:T]-`: each relationship matches in BOTH
    orientations (openCypher semantics) — the leg is the union of the
    two orientation projections with self-loops contributed once; in
    var-length form the walk uses the symmetric closure, and the
    shortestPath / allShortestPaths / weighted-shortestPath lowerings
    compose the same closure (no pre-built symmetric view needed).
  - Cypher string operators `STARTS WITH` / `ENDS WITH` / `CONTAINS`,
    rewritten quote-aware to the Spark `startswith`/`endswith`/
    `contains` functions; operands may be property refs, literals, or
    single-level function calls, and `NOT` composes for free.
  - `UNION` / `UNION ALL` between complete subqueries (each with its
    own MATCH..RETURN): compiled per segment and combined with
    unionByName, plain UNION deduplicating — subqueries must return
    the same column names in the same order; mixing the two forms is
    refused (as in openCypher).  No post-union ORDER BY (order within
    a union is undefined in Cypher too).
  - `collect(x)` / `collect(DISTINCT x)`, rewritten to the
    DETERMINISTIC `sort_array(collect_list(x))` /
    `sort_array(collect_set(x))` (openCypher's collect is unordered;
    pinning ascending order makes subscripts and UNWIND reproducible
    across partitionings).  Explicit `collect_list`/`collect_set`
    pass through unordered if that is what you want.

Not supported (raise ValueError): more than one RETURN clause,
CREATE/MERGE/DELETE (this is an analytical engine — writes go through
the sink API), CALL procedures, nodes()/relationships() on the
weighted shortestPath form (the min-cost lowering carries no
predecessors — use the unweighted shortestPath or a general named
path).

Scale shape: each edge pattern is one equi-join of the (distinct-pair
rollup) edge table; labels and property predicates are pushed to the
pattern legs BEFORE the joins (so Catalyst sees them at the scan);
var-length expansion is a union of at most (max-min+1) join chains,
never an iterative driver loop.  No UDFs anywhere — the produced plan
is indistinguishable from hand-written DataFrame code.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .property_graph import PropertyGraph

# ---------------------------------------------------------------- lexer

_TOKEN = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<arrow_in><-)
  | (?P<arrow_out>->)
  | (?P<dash>-)
  | (?P<lpar>\()
  | (?P<rpar>\))
  | (?P<lbr>\[)
  | (?P<rbr>\])
  | (?P<lbrace>\{)
  | (?P<rbrace>\})
  | (?P<colon>:)
  | (?P<comma>,)
  | (?P<star>\*)
  | (?P<pipe>\|)
  | (?P<dots>\.\.)
  | (?P<str>'[^']*'|"[^"]*")
  | (?P<float>\d+\.\d+)
  | (?P<num>\d+)
  | (?P<name>\w+)
    """,
    re.VERBOSE,
)

# top-level clause keywords (quote-aware scan in _split_clauses)
_KW = re.compile(
    r"\b(OPTIONAL\s+MATCH|UNWIND|MATCH|WITH|RETURN|CALL)\b", re.IGNORECASE
)

_STAGE_OP = re.compile(r"(WHERE|ORDER\s+BY|SKIP|LIMIT)\b", re.IGNORECASE)


def _split_stage_ops(body: str) -> tuple[str, list[tuple[str, str]]]:
    """Split a WITH-stage body into the projection head and its
    trailing TOP-LEVEL operator clauses — WHERE / ORDER BY / SKIP /
    LIMIT, in whatever order they appear (Neo4j grammar puts WHERE
    last, the engine's older form put it first; both parse).  Scanning
    is quote- and bracket/brace/paren-aware, so a WHERE inside a
    count{}/EXISTS{} subquery or a parenthesized expression never
    splits the stage.  Returns (head, [(KW, text), ...])."""
    blank = _blank_quotes(body)
    depth = 0
    marks: list[tuple[int, int, str]] = []
    shadowed: set[str] = set()  # aliases that shadow a stage operator
    i, n = 0, len(blank)
    while i < n:
        ch = blank[i]
        if ch in "({[":
            depth += 1
        elif ch in ")}]":
            depth -= 1
        elif depth == 0 and ch.isalpha():
            m = _STAGE_OP.match(blank, i)
            prev = blank[i - 1] if i else " "
            if m and not (prev.isalnum() or prev == "_"):
                # `.. AS limit` (alias) / `e.where` (property access)
                # are identifiers, not stage operators
                before = blank[:i].rstrip()
                kw = re.sub(r"\s+", " ", m.group(1).upper())
                if before.endswith("."):
                    i = m.end()
                    continue
                if re.search(r"\bAS$", before, re.IGNORECASE):
                    # the alias definition is fine — but a LATER bare
                    # reference is indistinguishable from the stage
                    # operator itself; remember and refuse at that
                    # point with the explicit shadow diagnostic
                    # (mirrors _split_clauses, ADVICE r8)
                    shadowed.add(kw)
                    i = m.end()
                    continue
                if kw in shadowed:
                    raise ValueError(
                        f"cypher: an alias named {kw.lower()!r} shadows "
                        "the stage operator and is referenced later — "
                        "a bare occurrence is ambiguous (alias vs "
                        "WHERE/ORDER BY/SKIP/LIMIT); rename the alias"
                    )
                marks.append((i, m.end(), kw))
                i = m.end()
                continue
        i += 1
    if not marks:
        return body, []
    head = body[: marks[0][0]]
    ops: list[tuple[str, str]] = []
    for j, (s, e, kw) in enumerate(marks):
        end = marks[j + 1][0] if j + 1 < len(marks) else len(body)
        ops.append((kw, body[e:end].strip()))
    return head, ops


# the RETURN tail: [DISTINCT] items [ORDER BY ..] [SKIP n] [LIMIT n]
_TAIL = re.compile(
    r"^\s*(?P<distinct>DISTINCT\s+)?(?P<ret>.+?)"
    r"(?:\s+ORDER\s+BY\s+(?P<order>.+?))?"
    r"(?:\s+SKIP\s+(?P<skip>\d+))?"
    r"(?:\s+LIMIT\s+(?P<limit>\d+))?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _blank_quotes(text: str) -> str:
    """Same-length copy of `text` with quoted-literal CONTENTS replaced
    by spaces (the quote characters stay).  Structural regexes match
    against the blanked copy so keywords inside string literals are
    invisible; because lengths are identical, group spans from the
    blanked match slice the ORIGINAL text correctly."""
    return re.sub(
        r"'[^']*'|\"[^\"]*\"",
        lambda mm: mm.group(0)[0] + " " * (len(mm.group(0)) - 2) + mm.group(0)[-1],
        text,
    )


def _gslice(m: re.Match, text: str, name: str) -> str | None:
    """Group `name` of a blanked-text match, sliced from the original."""
    s, e = m.span(name)
    return None if s == -1 else text[s:e]


def _split_clauses(query: str) -> list[tuple[str, str]]:
    """Split a query into ordered (KEYWORD, body) clause segments on the
    top-level keywords MATCH / OPTIONAL MATCH / WITH / RETURN, skipping
    occurrences inside quoted strings.  Bodies run to the next keyword."""
    parts = re.split(r"('[^']*'|\"[^\"]*\")", query)
    marks: list[tuple[int, str, int]] = []  # (start, KW, body_start)
    shadowed: set[str] = set()  # aliases that shadow a clause keyword
    # brace depth BEFORE each character (quote-blanked): a clause
    # keyword inside { .. } — an EXISTS/count subquery body in its
    # Neo4j MATCH-spelled form — is not a top-level clause boundary
    blank = _blank_quotes(query)
    depths = []
    d = 0
    for ch in blank:
        depths.append(d)
        d += (ch == "{") - (ch == "}")
    off = 0
    for idx, part in enumerate(parts):
        if idx % 2 == 0:
            for m in _KW.finditer(part):
                if depths[off + m.start()] > 0:
                    continue  # inside a braced subquery body
                kw = re.sub(r"\s+", " ", m.group(1).upper())
                before = part[: m.start()].rstrip()
                # `e.match` (property access) and `.. AS match` (alias)
                # are identifiers, not clause boundaries
                if before.endswith("."):
                    continue
                if re.search(r"\bAS$", before, re.IGNORECASE):
                    # the alias itself is fine — but a LATER bare
                    # reference to it is indistinguishable from a
                    # genuine clause keyword, so remember it and
                    # refuse at that point (ADVICE r7)
                    shadowed.add(kw)
                    continue
                if kw in shadowed:
                    raise ValueError(
                        f"cypher: an alias named {kw.lower()!r} shadows "
                        "the clause keyword and is referenced later — "
                        "a bare occurrence is ambiguous (alias vs "
                        "clause boundary); rename the alias"
                    )
                if kw == "WITH":
                    # the WITH of a string operator (x STARTS WITH y /
                    # x ENDS WITH y) is not a clause boundary
                    wm = re.search(r"(\w+)\s*$", part[: m.start()])
                    if wm and wm.group(1).upper() in ("STARTS", "ENDS"):
                        continue
                marks.append((off + m.start(), kw, off + m.end()))
        off += len(part)
    if not marks or marks[0][0] > len(query) - len(query.lstrip()):
        raise ValueError("cypher: expected MATCH <patterns> ... RETURN ...")
    clauses: list[tuple[str, str]] = []
    for i, (_, kw, body_start) in enumerate(marks):
        body_end = marks[i + 1][0] if i + 1 < len(marks) else len(query)
        clauses.append((kw, query[body_start:body_end]))
    return clauses

# one MATCH/OPTIONAL MATCH block: patterns + its own optional WHERE
_BLOCK = re.compile(r"^\s*(?P<pat>.+?)(?:\s+WHERE\s+(?P<where>.+))?\s*$", re.IGNORECASE | re.DOTALL)

_UNSUPPORTED = re.compile(
    r"\b(CREATE|MERGE|DELETE|SET|REMOVE)\b",
    re.IGNORECASE,
)

# after CALL { .. } extraction, any surviving CALL token is a procedure
# invocation (CALL db.labels() ..), which this subset refuses
_CALL_PROC = re.compile(r"\bCALL\b(?!\s+__c\d+\b)", re.IGNORECASE)

# per-level row cap for allShortestPaths ENUMERATION (nodes(p) bound):
# path counts can grow multiplicatively with depth on dense graphs, and
# enumeration is inherently output-sized — above this the lowering
# raises with a pointer to the counting form (p.cnt), which stays one
# row per pair at any scale
ALLSP_ENUM_FRONTIER_LIMIT = 2_000_000

# a MATCH block of the form  p = [all]shortestPath[s]((a)-[:T*1..4]->(b))
_SHORTEST = re.compile(
    r"^\s*(?P<pvar>\w+)\s*=\s*(?P<all>allShortestPaths|shortestPath)"
    r"\s*\(\s*(?P<inner>.+)\s*\)\s*$",
    re.IGNORECASE | re.DOTALL,
)


class _Node:
    __slots__ = ("var", "label", "props")

    def __init__(self, var: str | None, label: str | None, props=None):
        self.var, self.label, self.props = var, label, props or {}


class _Edge:
    __slots__ = (
        "var", "etype", "reverse", "min_len", "max_len", "props", "undirected",
    )

    def __init__(
        self, var, etype, reverse, min_len, max_len, props=None, undirected=False
    ):
        # etype: None (default edges) | str | tuple[str, ...] (the
        # Cypher type disjunction -[e:A|B]->, lowered to a union of the
        # type frames on their common property columns)
        self.var, self.etype, self.reverse = var, etype, reverse
        self.min_len, self.max_len = min_len, max_len
        self.props = props or {}
        self.undirected = undirected


def _lex(pattern: str):
    toks = []
    pos = 0
    while pos < len(pattern):
        m = _TOKEN.match(pattern, pos)
        if not m:
            raise ValueError(f"cypher: cannot tokenize pattern at {pattern[pos:pos+20]!r}")
        pos = m.end()
        kind = m.lastgroup
        if kind != "ws":
            toks.append((kind, m.group()))
    return toks


def _parse_patterns(text: str, anon: list | None = None):
    """Parse comma-separated chains like (a:L)-[e:T]->(b)<-[*1..2]-(c).
    Returns list of (node, edge, node, edge, ...) triple chains flattened
    to [(left_node, edge, right_node), ...].  `anon` is the shared
    anonymous-variable counter (one per query, so anonymous edge columns
    from different MATCH blocks cannot collide)."""
    toks = _lex(text)
    i = 0
    triples: list[tuple[_Node, _Edge, _Node]] = []
    if anon is None:
        anon = [0]

    def fresh() -> str:
        anon[0] += 1
        return f"__anon{anon[0]}"

    def expect(kind):
        nonlocal i
        if i >= len(toks) or toks[i][0] != kind:
            got = toks[i] if i < len(toks) else ("eof", "")
            raise ValueError(f"cypher: expected {kind}, got {got[1]!r}")
        i += 1
        return toks[i - 1][1]

    def parse_props() -> dict:
        """{key: literal, ...} — literals are quoted strings, ints, or
        floats; compiled to equality predicates on the pattern leg."""
        nonlocal i
        expect("lbrace")
        props: dict = {}
        while True:
            key = expect("name")
            expect("colon")
            if i >= len(toks):
                raise ValueError("cypher: expected literal in property map")
            kind, text = toks[i]
            if kind == "str":
                props[key] = text[1:-1]
            elif kind == "float":
                props[key] = float(text)
            elif kind == "num":
                props[key] = int(text)
            else:
                raise ValueError(
                    f"cypher: property map values must be literals, got {text!r}"
                )
            i += 1
            if i < len(toks) and toks[i][0] == "comma":
                i += 1
                continue
            break
        expect("rbrace")
        return props

    def parse_node() -> _Node:
        nonlocal i
        expect("lpar")
        var = label = None
        props: dict = {}
        if i < len(toks) and toks[i][0] == "name":
            var = expect("name")
        if i < len(toks) and toks[i][0] == "colon":
            i += 1
            label = expect("name")
        if i < len(toks) and toks[i][0] == "lbrace":
            props = parse_props()
        expect("rpar")
        return _Node(var or fresh(), label, props)

    def parse_edge() -> _Edge:
        nonlocal i
        reverse = False
        if toks[i][0] == "arrow_in":  # <-[..]-
            reverse = True
            i += 1
        elif toks[i][0] == "dash":  # -[..]->
            i += 1
        else:
            raise ValueError(f"cypher: expected edge at {toks[i][1]!r}")
        var = etype = None
        min_len = max_len = 1
        props: dict = {}
        if i < len(toks) and toks[i][0] == "lbr":
            i += 1
            if toks[i][0] == "name":
                var = expect("name")
            if i < len(toks) and toks[i][0] == "colon":
                i += 1
                types = [expect("name")]
                # type disjunction -[e:A|B|C]-> (openCypher: matches a
                # relationship of ANY listed type)
                while i < len(toks) and toks[i][0] == "pipe":
                    i += 1
                    if i < len(toks) and toks[i][0] == "colon":
                        i += 1  # tolerate the :A|:B spelling too
                    types.append(expect("name"))
                etype = types[0] if len(types) == 1 else tuple(types)
            if i < len(toks) and toks[i][0] == "star":
                i += 1
                if var is not None:
                    raise ValueError(
                        "cypher: variable-length edges cannot bind an edge "
                        "variable in this subset (project endpoints instead)"
                    )
                if i < len(toks) and toks[i][0] == "num":
                    min_len = int(expect("num"))
                    expect("dots")
                    max_len = int(expect("num"))
                else:  # bare `*`: default bound (shortestPath's usual form)
                    min_len, max_len = 1, 6
                if not (1 <= min_len <= max_len):
                    raise ValueError("cypher: need 1 <= min <= max in -[*min..max]->")
                if max_len > 6:
                    raise ValueError(
                        "cypher: variable-length bound capped at 6 hops (each "
                        "extra hop is another |E| join; use graph.algorithms."
                        "bfs_distances for deeper traversal)"
                    )
            if i < len(toks) and toks[i][0] == "lbrace":
                # on var-length edges a property map is only meaningful
                # inside shortestPath ({cost: 'prop'} names the weight
                # column) — build_block refuses it, _shortest_frame
                # interprets it
                props = parse_props()
            expect("rbr")
        undirected = False
        if reverse:
            expect("dash")
        elif i < len(toks) and toks[i][0] == "dash":
            # -[e]- (no closing arrow): the undirected pattern — each
            # relationship matches in BOTH orientations (openCypher)
            i += 1
            undirected = True
        else:
            expect("arrow_out")
        return _Edge(
            var or fresh(), etype, reverse, min_len, max_len, props, undirected
        )

    while i < len(toks):
        left = parse_node()
        while i < len(toks) and toks[i][0] in ("dash", "arrow_in"):
            edge = parse_edge()
            right = parse_node()
            triples.append((left, edge, right))
            left = right
        if i < len(toks):
            if toks[i][0] != "comma":
                raise ValueError(f"cypher: expected ',' between patterns, got {toks[i][1]!r}")
            i += 1
    if not triples:
        raise ValueError("cypher: MATCH needs at least one edge pattern")
    return triples


# ----------------------------------------------------------- compiler


_PROP_REF = re.compile(r"\b(\w+)\.(\w+)\b")
_AGG_RE = re.compile(
    r"\b(count|sum|avg|min|max|collect_list|collect_set|collect)\s*\(",
    re.IGNORECASE,
)

_COLLECT_RE = re.compile(r"\bcollect\s*\(", re.IGNORECASE)


def _collect_rewrite(text: str) -> str:
    """Rewrite Cypher ``collect(x)`` to the DETERMINISTIC Spark form
    ``sort_array(collect_list(x))`` (and ``collect(DISTINCT x)`` to
    ``sort_array(collect_set(x))``).  openCypher's collect() is
    unordered; pinning ascending order is what makes downstream
    subscripts / UNWIND results reproducible across partitionings —
    the same determinism contract as every declared query.  Quote-
    aware; ``collect_list``/``collect_set`` written explicitly pass
    through untouched (the \\bcollect\\( match can't start inside
    them)."""
    out: list[str] = []
    i = 0
    while True:
        m = _COLLECT_RE.search(text, i)
        if not m:
            out.append(text[i:])
            return "".join(out)
        # skip matches inside quoted strings
        seg = text[:m.start()]
        if seg.count("'") % 2 == 1 or seg.count('"') % 2 == 1:
            out.append(text[i:m.end()])
            i = m.end()
            continue
        out.append(text[i:m.start()])
        # find the matching close paren (quote-aware)
        depth, j, q = 0, m.end() - 1, None
        while j < len(text):
            ch = text[j]
            if q:
                if ch == q:
                    q = None
            elif ch in "'\"":
                q = ch
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    break
            j += 1
        if depth != 0:
            raise ValueError("cypher: unbalanced parens in collect(..)")
        inner = text[m.end():j]
        dm = re.match(r"\s*DISTINCT\s+(.*)$", inner, re.IGNORECASE | re.DOTALL)
        if dm:
            out.append(f"sort_array(collect_set({dm.group(1)}))")
        else:
            out.append(f"sort_array(collect_list({inner}))")
        i = j + 1


def _split_conjuncts(text: str) -> list[str] | None:
    """Split a WHERE body on top-level AND (outside parens / braces /
    brackets / quotes).  Returns ``None`` when a top-level OR is present
    — AND binds tighter than OR, so the text is then a disjunction and
    cannot be treated as a conjunct list (pattern predicates under OR
    are refused by the caller)."""
    out: list[str] = []
    cur: list[str] = []
    depth = 0
    q: str | None = None
    has_or = False
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if q:
            cur.append(ch)
            if ch == q:
                q = None
            i += 1
            continue
        if ch in "'\"":
            q = ch
            cur.append(ch)
        elif ch in "({[":
            depth += 1
            cur.append(ch)
        elif ch in ")}]":
            depth -= 1
            cur.append(ch)
        elif depth == 0 and ch.isalpha():
            m = re.match(r"(AND|OR)\b", text[i:], re.IGNORECASE)
            prev = text[i - 1] if i else " "
            if m and not (prev.isalnum() or prev == "_"):
                if m.group(1).upper() == "OR":
                    has_or = True
                    cur.append(text[i : i + m.end()])
                else:
                    out.append("".join(cur).strip())
                    cur = []
                i += m.end()
                continue
            cur.append(ch)
        else:
            cur.append(ch)
        i += 1
    if cur:
        out.append("".join(cur).strip())
    if has_or:
        return None
    return [c for c in out if c]


# one pattern-predicate conjunct: [NOT] EXISTS { pattern } / ( pattern )
_EXISTS_PRED = re.compile(
    r"^(?P<neg>NOT\s+)?EXISTS\s*(?P<open>[\{\(])(?P<inner>.*)(?P<close>[\}\)])\s*$",
    re.IGNORECASE | re.DOTALL,
)
# bare pattern-predicate sugar: NOT (a)-[:T]->(b)  /  (a)-[:T]->(b)
_BARE_PAT = re.compile(r"^(?P<neg>NOT\s+)?(?P<pat>\(.*)$", re.IGNORECASE | re.DOTALL)

# a COUNT subquery expression: count { (c)-[:T]->(s) [WHERE ..] }
_COUNT_SUBQ = re.compile(r"\bCOUNT\s*\{", re.IGNORECASE)

# a CALL subquery clause opener: CALL { MATCH .. RETURN .. }
_CALL_OPEN = re.compile(r"\bCALL\s*\{", re.IGNORECASE)


def _strip_subq_match(inner: str, kind: str) -> str:
    """Normalize an EXISTS/count subquery body: the Neo4j full-subquery
    spelling ``EXISTS { MATCH (a)-[:T]->(b) [WHERE ..] }`` strips its
    leading MATCH (the braced body IS a pattern in this subset); a
    RETURN inside is refused with a clear error (projection inside an
    existence/count test has no effect in this subset — drop it)."""
    blank = _blank_quotes(inner)
    if re.search(r"\bRETURN\b", blank, re.IGNORECASE):
        raise ValueError(
            f"cypher: RETURN inside a {kind} {{ .. }} subquery is not "
            "supported (the braced body is a pattern [WHERE ..]; a "
            "projection has no effect on an existence/count test — "
            "drop the RETURN, or use CALL { .. } to carry values)"
        )
    return re.sub(r"^\s*MATCH\b", "", inner, count=1, flags=re.IGNORECASE)


def _match_brace(blank: str, open_idx: int) -> int:
    """Index of the ``}`` matching the ``{`` at `open_idx`, scanning the
    QUOTE-BLANKED copy (braces inside string literals are spaces there,
    so only structural braces count).  Raises on imbalance."""
    depth = 0
    for j in range(open_idx, len(blank)):
        ch = blank[j]
        if ch == "{":
            depth += 1
        elif ch == "}":
            depth -= 1
            if depth == 0:
                return j
    raise ValueError("cypher: unbalanced braces in { .. } subquery")


def _extract_calls(query: str) -> tuple[str, list[str]]:
    """Replace every top-level ``CALL { <subquery> }`` block with a
    placeholder clause ``CALL __c<i>`` and return the rewritten query +
    the extracted subquery bodies.  Extraction happens BEFORE clause
    splitting because the body contains its own MATCH/RETURN keywords;
    brace matching is quote-aware and spans nested braces (property
    maps, EXISTS/count subqueries, nested CALLs — the latter recurse
    when the body is compiled as its own query)."""
    blank = _blank_quotes(query)
    calls: list[str] = []
    out: list[str] = []
    i = 0
    while True:
        m = _CALL_OPEN.search(blank, i)
        if not m:
            out.append(query[i:])
            return "".join(out), calls
        close = _match_brace(blank, m.end() - 1)
        if re.match(r"\s*IN\s+TRANSACTIONS\b", blank[close + 1:], re.IGNORECASE):
            raise ValueError(
                "cypher: CALL { .. } IN TRANSACTIONS is not supported "
                "(this is an analytical engine; there are no write "
                "transactions to batch)"
            )
        out.append(query[i:m.start()])
        out.append(f" CALL __c{len(calls)} ")
        calls.append(query[m.end():close])
        i = close + 1


_IMPORT_WITH = re.compile(
    r"^\s*WITH\s+(?P<imp>.*?)\s*"
    r"(?=\b(?:OPTIONAL\s+MATCH|MATCH|UNWIND|CALL|WITH|RETURN|WHERE)\b)",
    re.IGNORECASE | re.DOTALL,
)

# top-level aggregate-kind sniff for the zero-row fill (count/sum have
# identity 0 in Neo4j, collect has []; avg/min/max are null)
_FILL_KIND = re.compile(
    r"^\s*(?P<fn>count|sum|collect_list|collect_set|collect)\s*\(",
    re.IGNORECASE,
)


def _correlated_call_frame(cg, cbody, scalar_vars, edge_vars, path_vars):
    """Lower the Neo4j-5 scope-importing subquery body
    ``WITH c[, d ..] MATCH .. RETURN agg(..) AS x[, ..]`` to a
    pre-aggregate frame keyed by the imported variables.

    Per-row subquery execution is re-expressed set-at-a-time, exactly
    the count{}-subquery shape: the body after the importing WITH
    compiles as an independent query with the imports injected into
    its RETURN as implicit Cypher grouping keys, so the caller can
    LEFT-join the one-aggregate-row-per-key result onto the scope —
    one aggregation + one hash join at any scope size.  This is exact
    because an all-aggregates body is a pure function of the imported
    values; a body whose RETURN keeps non-aggregate items would
    multiply scope rows (0..n per row) and is refused with a pointer
    to OPTIONAL MATCH.  Returns (frame, imports, fill) where `fill`
    maps output aliases to their zero-row identity kind.

    Zero-match contract: an item whose TOP-LEVEL expression is
    count/sum/collect gets the Neo4j identity (0 / 0 / []); avg/min/
    max and COMPOSITE items (e.g. ``sum(x)/max(y)``) are null — for
    composites of null-identity aggregates that matches Neo4j too,
    but a constant-plus-aggregate like ``1 + count(*)`` diverges
    (Neo4j: 1, here: null); wrap such items in coalesce() outside the
    CALL if the distinction matters."""
    m = _IMPORT_WITH.match(_blank_quotes(cbody))
    if not m:
        raise ValueError(
            "cypher: a CALL subquery starting with WITH is the "
            "scope-importing form — expected CALL { WITH <vars> "
            "MATCH .. RETURN <aggregates> }"
        )
    imports = [x.strip() for x in m.group("imp").split(",")]
    if not all(re.fullmatch(r"\w+", x) for x in imports):
        raise ValueError(
            "cypher: an importing WITH lists bare variable names only "
            f"(got {m.group('imp')!r}); compute derived values in an "
            "outer WITH first (Neo4j imposes the same rule)"
        )
    if len(set(imports)) != len(imports):
        raise ValueError("cypher: duplicate variable in importing WITH")
    for v in imports:
        if v in edge_vars or v in path_vars:
            raise ValueError(
                f"cypher: cannot import {v!r} — edge/path variables "
                "are property bundles; project the needed property to "
                "a scalar alias in a WITH stage and import that"
            )
        if v not in scalar_vars:
            raise ValueError(
                f"cypher: importing WITH references {v!r} which is not "
                "bound in the outer scope"
            )
    rest = cbody[m.end():]
    if re.match(r"\s*WHERE\b", rest, re.IGNORECASE):
        raise ValueError(
            "cypher: an importing WITH takes no WHERE (Neo4j rule) — "
            "filter in the outer query or in the body's MATCH"
        )
    # locate the body's top-level RETURN (depth-0 on the quote-blanked
    # copy; nested CALL/count{} braces shield their own RETURNs)
    blank = _blank_quotes(rest)
    depth = 0
    ret_at = None
    for i, ch in enumerate(blank):
        if ch in "{([":
            depth += 1
        elif ch in "})]":
            depth -= 1
        elif depth == 0 and blank[i : i + 6].upper() == "RETURN":
            prev = blank[i - 1] if i else " "
            nxt = blank[i + 6] if i + 6 < len(blank) else " "
            if not (prev.isalnum() or prev in "._") and not (
                nxt.isalnum() or nxt == "_"
            ):
                ret_at = i
    if ret_at is None:
        raise ValueError("cypher: CALL subquery body has no RETURN")
    items_text = rest[ret_at + 6 :]
    tm = _TAIL.match(_blank_quotes(items_text))
    if tm and (
        tm.group("order") or tm.group("skip") or tm.group("limit")
    ):
        raise ValueError(
            "cypher: ORDER BY/SKIP/LIMIT inside a correlated CALL "
            "would be a per-import-group top-k — use the WITH .. "
            "ORDER BY .. LIMIT .. top-k-then-expand idiom instead"
        )
    if re.match(r"\s*DISTINCT\b", items_text, re.IGNORECASE):
        raise ValueError(
            "cypher: RETURN DISTINCT inside a correlated CALL is a "
            "no-op for the aggregating form — put DISTINCT inside the "
            "aggregate (count(DISTINCT x)) or drop it"
        )
    fill: dict[str, str] = {}
    for item in _split_top_level(items_text):
        if not _AGG_RE.search(_blank_quotes(item)):
            raise ValueError(
                "cypher: a correlated CALL body must RETURN only "
                f"aggregates (item {item.strip()!r} is not) — a "
                "non-aggregating correlated subquery multiplies scope "
                "rows; use OPTIONAL MATCH, or aggregate with collect()"
            )
        am = re.match(
            r"^(.*?)\s+AS\s+(\w+)\s*$", item, re.IGNORECASE | re.DOTALL
        )
        raw = (am.group(1) if am else item).strip()
        alias = (
            am.group(2)
            if am
            else re.sub(r"\W+", "_", raw).strip("_").lower() or "expr"
        )
        km = _FILL_KIND.match(raw)
        if km:
            fn = km.group("fn").lower()
            fill[alias] = "collect" if fn.startswith("collect") else fn
    sub_q = f"{rest[:ret_at]} RETURN {', '.join(imports)}, {items_text}"
    try:
        sub = cypher(cg, sub_q)
    except ValueError:
        raise
    except Exception as e:  # Spark analysis error: import not bound
        raise ValueError(
            "cypher: correlated CALL body failed to compile — every "
            f"imported variable ({', '.join(imports)}) must be bound "
            "by the body's own MATCH patterns (value-only correlation "
            "like `WHERE x.w > lim` is not supported); underlying "
            f"error: {e}"
        ) from e
    return sub, imports, fill


def _split_disjuncts(text: str) -> list[str]:
    """Split a boolean body on top-level OR (outside parens / braces /
    brackets / quotes).  Top-level ANDs stay inside their disjunct
    (AND binds tighter: ``a AND b OR c`` == ``(a AND b) OR c``).
    Returns a one-element list when no top-level OR is present."""
    out: list[str] = []
    cur: list[str] = []
    depth = 0
    q: str | None = None
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if q:
            cur.append(ch)
            if ch == q:
                q = None
            i += 1
            continue
        if ch in "'\"":
            q = ch
            cur.append(ch)
        elif ch in "({[":
            depth += 1
            cur.append(ch)
        elif ch in ")}]":
            depth -= 1
            cur.append(ch)
        elif depth == 0 and ch.isalpha():
            m = re.match(r"OR\b", text[i:], re.IGNORECASE)
            prev = text[i - 1] if i else " "
            if m and not (prev.isalnum() or prev == "_"):
                out.append("".join(cur).strip())
                cur = []
                i += m.end()
                continue
            cur.append(ch)
        else:
            cur.append(ch)
        i += 1
    if cur:
        out.append("".join(cur).strip())
    return [c for c in out if c]


def _strip_outer_parens(text: str) -> str:
    """Strip outer parens that wrap the WHOLE text (balanced pair)."""
    t = text.strip()
    while t.startswith("(") and t.endswith(")"):
        depth = 0
        for i, ch in enumerate(t):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0 and i != len(t) - 1:
                    return t  # first paren closes early: not a wrapper
        t = t[1:-1].strip()
    return t


# a relationship-arrow shape anywhere in an expression — used only to
# turn "would be an opaque Spark SQL parse error" into a clean
# cypher-level refusal.  The edge bracket must ADJOIN a node paren
# (`)-[`, `)<-[`, `]->(`, `]-(`), so subscript arithmetic like
# `xs[0]-xs[1]` is NOT taken for a pattern (it is a plain scalar
# expression and must go to the plain-filter path)
_PATTERN_SHAPE = re.compile(r"\)\s*<?-\s*\[|\]\s*-+>?\s*\(")


def _bracket_lists_to_array(text: str) -> str:
    """Rewrite Cypher bracket list literals ``[1, 2, 3]`` to Spark SQL
    ``array(1, 2, 3)`` in an EXPRESSION context (WHERE / WITH / RETURN
    bodies — never MATCH patterns, which don't pass through here).

    A ``[`` is a list literal unless the previous non-space character
    is an identifier char, ``)`` or ``]`` (those are subscripts, e.g.
    ``arr[0]`` or ``[1,2][0]``, which Spark SQL also understands) —
    EXCEPT when that identifier is a keyword (``x IN [..]``,
    ``a AND [..]``), which can only precede a literal.  Quoted spans
    are untouched; nesting is handled with a stack so each converted
    ``[`` closes with ``)``."""
    kw = {"IN", "AND", "OR", "NOT", "XOR", "WHEN", "THEN", "ELSE",
          "RETURN", "DISTINCT", "CONTAINS", "LIKE", "RLIKE", "BETWEEN"}
    out: list[str] = []
    # each open '[' pushes how it must close: ']' kept subscript,
    # ')' after array(, or ')' after a plain '(' (the IN value list —
    # Spark SQL's IN takes `(v, ...)`, not an array)
    stack: list[str] = []
    q: str | None = None
    prev_code = ""  # last non-space char emitted outside quotes
    for ch in text:
        if q:
            out.append(ch)
            if ch == q:
                q = None
            continue
        if ch in "'\"":
            q = ch
            out.append(ch)
            prev_code = ch
            continue
        if ch == "[":
            prev_word = None
            if prev_code.isalnum() or prev_code == "_":
                word = re.search(r"(\w+)$", "".join(out).rstrip())
                prev_word = word.group(1).upper() if word else None
            is_subscript = bool(prev_code) and (
                prev_code.isalnum() or prev_code in ")]_"
            ) and prev_word not in kw
            if is_subscript:
                out.append("[")
                stack.append("]")
            elif prev_word == "IN":
                out.append("(")
                stack.append(")")
            else:
                out.append("array(")
                stack.append(")")
            prev_code = "("
            continue
        if ch == "]":
            close = stack.pop() if stack else "]"
            out.append(close)
            prev_code = close
            continue
        out.append(ch)
        if not ch.isspace():
            prev_code = ch
    return "".join(out)


# a Cypher string-operator comparison: <primary> STARTS WITH <primary>
# (likewise ENDS WITH / CONTAINS).  A primary is a quoted string, a
# bare/dotted identifier, or a single-level function call — enough for
# the practical shapes (prop refs, literals, lower()/trim() wrappers);
# nested calls stay refusable Spark-side rather than mis-parsed here.
_STR_PRIMARY = r"(?:[A-Za-z_]\w*(?:\.\w+)?\((?:[^()']|'[^']*')*\)|[A-Za-z_]\w*(?:\.\w+)?|'[^']*'|\"[^\"]*\")"
_STR_OP = re.compile(
    rf"(?P<left>{_STR_PRIMARY})\s+"
    r"(?P<op>STARTS\s+WITH|ENDS\s+WITH|CONTAINS)\s+"
    rf"(?P<right>{_STR_PRIMARY})",
    re.IGNORECASE,
)


def _string_ops_rewrite(text: str) -> str:
    """Rewrite Cypher string comparison operators to the equivalent
    Spark SQL functions: ``x STARTS WITH y`` -> ``startswith(x, y)``,
    ``x ENDS WITH y`` -> ``endswith(x, y)``, ``x CONTAINS y`` ->
    ``contains(x, y)``.  ``NOT`` composes for free (``NOT contains(..)``
    is plain SQL).  Matches inside quoted string literals are left
    untouched.

    Iterates to a FIXPOINT: a single pass rewrites non-overlapping
    matches left to right, so a (nonsensical but parseable) chained
    ``a STARTS WITH b STARTS WITH c`` would otherwise leave a residual
    infix operator whose left operand is the freshly-built call — the
    fixpoint keeps the transform idempotent (property-tested); a
    genuinely ill-typed chain surfaces as a Spark analysis error, not a
    mis-parse."""
    for _ in range(10):  # bound: each pass strictly removes operators
        spans = [m.span() for m in re.finditer(r"'[^']*'|\"[^\"]*\"", text)]

        def sub(m: re.Match) -> str:
            op_at = m.start("op")
            if any(a < op_at < b for a, b in spans):
                return m.group(0)
            fn = {
                "STARTSWITH": "startswith",
                "ENDSWITH": "endswith",
                "CONTAINS": "contains",
            }[re.sub(r"\s+", "", m.group("op").upper())]
            return f"{fn}({m.group('left')}, {m.group('right')})"

        new = _STR_OP.sub(sub, text)
        if new == text:
            return text
        text = new
    return text


_UNION_RE = re.compile(r"\bUNION(?:\s+ALL)?\b", re.IGNORECASE)


def _split_union(query: str) -> tuple[list[str], bool]:
    """Split a query on top-level ``UNION`` / ``UNION ALL`` (outside
    quotes, parens, braces and brackets).  Returns (segments,
    all_mode); a single segment means no union.  Mixing UNION and
    UNION ALL is refused (openCypher does the same)."""
    parts = re.split(r"('[^']*'|\"[^\"]*\")", query)
    cuts: list[tuple[int, int, bool]] = []
    depth = 0
    offset = 0
    for idx, part in enumerate(parts):
        if idx % 2 == 0:
            for m in re.finditer(
                r"[(){}\[\]]|\bUNION(?:\s+ALL)?\b", part, re.IGNORECASE
            ):
                tok = m.group(0)
                if tok in "({[":
                    depth += 1
                elif tok in ")}]":
                    depth -= 1
                elif depth == 0:
                    # `e.union` (property access), `... AS union`
                    # (alias) and later references to that alias
                    # (`ORDER BY union`, `WHERE union = ..`) are
                    # identifiers, not set operators: skip any match
                    # immediately preceded by a dot or AS, and require
                    # what follows to start a new subquery — in this
                    # subset every UNION segment begins with MATCH.
                    before = query[: offset + m.start()].rstrip()
                    if before.endswith("."):
                        continue
                    if re.search(r"\bAS$", before, re.IGNORECASE):
                        continue
                    after = query[offset + m.end():]
                    if not re.match(r"\s*(?:OPTIONAL\s+)?MATCH\b", after, re.IGNORECASE):
                        continue
                    cuts.append(
                        (
                            offset + m.start(),
                            offset + m.end(),
                            "ALL" in tok.upper(),
                        )
                    )
        offset += len(part)
    if not cuts:
        return [query], False
    modes = {c[2] for c in cuts}
    if len(modes) > 1:
        raise ValueError(
            "cypher: mixing UNION and UNION ALL in one query is not "
            "supported (openCypher refuses it too)"
        )
    segs: list[str] = []
    prev = 0
    for start, end, _ in cuts:
        segs.append(query[prev:start])
        prev = end
    segs.append(query[prev:])
    return segs, modes.pop()


def _split_top_level(text: str, sep: str = ",") -> list[str]:
    """Split on `sep` outside parens/brackets/braces/quotes (brackets
    matter: a list literal `[1, 2, 3]` in a RETURN item must not be
    split apart)."""
    out, depth, cur, q = [], 0, [], None
    for ch in text:
        if q:
            cur.append(ch)
            if ch == q:
                q = None
            continue
        if ch in "'\"":
            q = ch
            cur.append(ch)
        elif ch in "([{":
            depth += 1
            cur.append(ch)
        elif ch in ")]}":
            depth -= 1
            cur.append(ch)
        elif ch == sep and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur).strip())
    return [s for s in out if s]


class CypherGraph:
    """A PropertyGraph bound to label predicates and relationship types
    so Cypher labels/types resolve to DataFrame filters.

    `labels` maps Label -> Column predicate over a node-id column (the
    caller receives the column and returns a boolean Column).
    `rel_types` maps TYPE -> edge DataFrame (src, dst, *props).  The
    default type (edge pattern without :TYPE) is `graph.edges`.
    """

    def __init__(
        self,
        graph: PropertyGraph,
        labels: dict | None = None,
        rel_types: dict | None = None,
    ):
        self.graph = graph
        self.labels = labels or {}
        self.rel_types = rel_types or {}

    def edges_for(self, etype) -> DataFrame:
        if etype is None:
            return self.graph.edges
        if isinstance(etype, tuple):
            # type disjunction: UNION ALL of the type frames (distinct
            # relationships, so no dedup) restricted to their COMMON
            # property columns — a property present on only one type
            # can't be referenced across the union
            frames = [self.edges_for(t) for t in etype]
            common = [
                c
                for c in frames[0].columns
                if all(c in f.columns for f in frames[1:])
            ]
            out = frames[0].select(*common)
            for f in frames[1:]:
                out = out.unionByName(f.select(*common))
            return out
        if etype not in self.rel_types:
            raise ValueError(
                f"cypher: unknown relationship type :{etype} "
                f"(known: {sorted(self.rel_types)})"
            )
        return self.rel_types[etype]

    def label_pred(self, label: str, col) -> F.Column:
        if label not in self.labels:
            raise ValueError(
                f"cypher: unknown label :{label} (known: {sorted(self.labels)})"
            )
        return self.labels[label](col)


def _edge_props(edf: DataFrame) -> list[str]:
    return [c for c in edf.columns if c not in ("src", "dst")]


def _leg(cg: CypherGraph, edge: _Edge, a: str, b: str) -> DataFrame:
    """One edge pattern as a DataFrame with columns a, b, and
    edgevar__prop for each edge property.  An undirected pattern
    -[e]- matches each relationship in BOTH orientations (openCypher):
    the leg is the union of the two orientation projections, with
    self-loops contributed once (their orientations coincide)."""
    edf = cg.edges_for(edge.etype)
    props = _edge_props(edf)

    def orient(s: str, d: str, frame: DataFrame) -> DataFrame:
        cols = [F.col(s).alias(a), F.col(d).alias(b)]
        cols += [F.col(p).alias(f"{edge.var}__{p}") for p in props]
        return frame.select(*cols)

    if edge.undirected:
        fwd = orient("src", "dst", edf)
        rev = orient("dst", "src", edf.filter(F.col("src") != F.col("dst")))
        return fwd.unionByName(rev)
    s, d = ("dst", "src") if edge.reverse else ("src", "dst")
    return orient(s, d, edf)


def _varlen_leg(cg: CypherGraph, edge: _Edge, a: str, b: str) -> DataFrame:
    """Bounded var-length reach as UNION of fixed-length join chains,
    deduplicated to distinct (a, b) endpoint pairs.  Each hop extends
    the DISTINCT pair set of the previous length, not raw paths — on a
    dense graph the number of k-hop PATHS grows like deg^k while the
    pair set is bounded by |V|², so the per-hop distinct is what keeps
    the expansion viable at scale (semi-naive evaluation, same shape
    as the BFS kernels in graph/algorithms.py).

    WALK semantics by design (module docstring): relationship reuse is
    allowed, so an undirected `*2..2` leg reaches (a,a) back over one
    edge — openCypher trail semantics live in `_path_enum_frame`
    (named paths), where per-path state exists to enforce them.  The
    pair-distinct form cannot carry per-path used-edge state without
    giving up its |V|² bound; the divergence is pinned by the declared
    oracles (g134 family) which compute the same walk closure."""
    edf = cg.edges_for(edge.etype).select("src", "dst")
    s, d = ("dst", "src") if edge.reverse else ("src", "dst")
    base = edf.select(F.col(s).alias("__u"), F.col(d).alias("__v"))
    if edge.undirected:
        # undirected reach: walk the symmetric closure (the per-hop
        # distinct below makes double-listed mutual lanes harmless)
        base = base.unionByName(
            edf.select(F.col(d).alias("__u"), F.col(s).alias("__v"))
        ).distinct()
    out = None
    cur = base
    for length in range(1, edge.max_len + 1):
        if length > 1:
            step = base.select(F.col("__u").alias("__m"), F.col("__v").alias("__w"))
            cur = (
                cur.join(step, cur["__v"] == step["__m"])
                .select("__u", F.col("__w").alias("__v"))
                .distinct()
            )
        if length >= edge.min_len:
            out = cur if out is None else out.unionByName(cur)
    assert out is not None
    return out.distinct().select(F.col("__u").alias(a), F.col("__v").alias(b))


def _node_filter(cg: CypherGraph, nd: _Node, frame: DataFrame, col: str) -> DataFrame:
    """Push one node pattern's label / {node: lit} filters onto `col`."""
    if nd.label is not None:
        frame = frame.filter(cg.label_pred(nd.label, F.col(col)))
    for k, v in nd.props.items():
        if k not in ("node", "id"):
            raise ValueError(
                f"cypher: node variable {nd.var!r} has no property {k!r} "
                "(node ids are the only node scalar)"
            )
        frame = frame.filter(F.col(col) == F.lit(v))
    return frame


def _shortest_frame(
    cg: CypherGraph, pvar: str, triples, want_nodes: bool = False
) -> tuple[DataFrame, set, str]:
    """shortestPath((a)-[:TYPE*min..max]->(b)) as a multi-source BFS:
    seeds = vertices passing a's label/{node} filters (pushed BEFORE
    the walk, so an anchored source explores one frontier, not the
    whole closure), then semi-naive frontier expansion — each level
    keeps only (seed, node) pairs never reached before, which IS the
    shortest-path property; binds columns a, b and pvar__len (reach
    `length(p)` / `p.len` in expressions).  Per level: one equi-join +
    distinct + anti-join, the g03 BFS kernel shape; lineage truncated
    per level so 6 levels stay 6 joins.

    An undirected pattern walks the symmetric closure (distinct union
    of both orientations — the g132 leg convention, self-loops
    contributed once), so `-[:T*]-` distances need no pre-built
    symmetric view.

    With ``want_nodes`` (the query references ``nodes(p)`` /
    ``relationships(p)``) each frontier row also carries ONE
    representative path as a node array, pinned deterministically to
    the LEXICOGRAPHICALLY SMALLEST shortest path: per level the
    expansion takes ``min(path || [next])`` per (a, b) pair — and
    because the global lex-min path's every prefix is itself the
    lex-min shortest path to its endpoint (a smaller prefix would
    splice into a smaller path), the greedy per-level min IS the
    global minimum, independent of partitioning.  The frontier stays
    one row per pair; the only extra cost is a bounded array column
    and a map-side-combinable min in place of the distinct."""
    if len(triples) != 1:
        raise ValueError(
            "cypher: shortestPath takes exactly one (a)-[..]->(b) pattern"
        )
    left, edge, right = triples[0]
    if edge.props:
        return _weighted_shortest_frame(
            cg, pvar, left, edge, right, want_nodes=want_nodes
        )
    a, b = left.var, right.var
    if a == b:
        raise ValueError("cypher: shortestPath endpoints must be distinct variables")
    edf = cg.edges_for(edge.etype).select("src", "dst")
    s, d = ("dst", "src") if edge.reverse else ("src", "dst")
    base = edf.select(F.col(s).alias("__u"), F.col(d).alias("__v"))
    if edge.undirected:
        # symmetric closure, self-loops dropped (the es-view convention).
        # BFS trail semantics then need one more exclusion below: the
        # level-2 seed backtrack a-x-a reuses the SAME undirected
        # relationship, so a==b rows are filtered out — every other BFS
        # path is node-distinct, hence relationship-distinct.
        base = (
            base.unionByName(
                edf.select(F.col(d).alias("__u"), F.col(s).alias("__v"))
            )
            .filter(F.col("__u") != F.col("__v"))
            .distinct()
            # materialize once: every BFS level joins base, and without
            # the checkpoint each level's job would re-run the closure's
            # union+distinct shuffle (the _all_shortest_frame pattern)
            .localCheckpoint(eager=True)
        )
    # seed from the edge table's own sources (covers rel_types whose
    # nodes aren't in graph.vertices, e.g. the nation trade graphs;
    # a zero-out-degree source has no >=1-hop path anyway)
    seeds = base.select(F.col("__u").alias(a)).distinct()
    seeds = _node_filter(cg, left, seeds, a)
    plen = f"{pvar}__len"
    pnodes = f"{pvar}__nodes"
    frontier = (
        seeds.join(base, F.col(a) == F.col("__u"))
        .select(a, F.col("__v").alias(b))
        .distinct()
    )
    if want_nodes:
        frontier = frontier.withColumn(pnodes, F.array(F.col(a), F.col(b)))
    frontier = frontier.localCheckpoint(eager=True)
    acc = frontier.withColumn(plen, F.lit(1))
    for level in range(2, edge.max_len + 1):
        if want_nodes:
            frontier = (
                frontier.join(base, F.col(b) == F.col("__u"))
                .select(
                    F.col(a),
                    F.col("__v").alias("__b2"),
                    F.concat(F.col(pnodes), F.array(F.col("__v"))).alias(pnodes),
                )
                .groupBy(a, "__b2")
                .agg(F.min(pnodes).alias(pnodes))
                .withColumnRenamed("__b2", b)
                .select(a, b, pnodes)
                .join(acc.select(a, b), [a, b], "left_anti")
                .localCheckpoint(eager=True)
            )
        else:
            frontier = (
                frontier.join(base, F.col(b) == F.col("__u"))
                .select(a, F.col("__v").alias(b))
                .distinct()
                .join(acc.select(a, b), [a, b], "left_anti")
                .localCheckpoint(eager=True)
            )
        if frontier.isEmpty():
            break
        acc = acc.unionByName(frontier.withColumn(plen, F.lit(level)))
    if edge.undirected:
        acc = acc.filter(F.col(a) != F.col(b))
    out = _node_filter(cg, right, acc, b)
    if edge.min_len > 1:
        out = out.filter(F.col(plen) >= edge.min_len)
    return out, {a, b}, pvar


def _all_shortest_frame(
    cg: CypherGraph, pvar: str, triples, want_nodes: bool = False
) -> tuple[DataFrame, set, str]:
    """allShortestPaths((a)-[:TYPE*min..max]->(b)): multi-source BFS
    that ALSO COUNTS the shortest paths per (a, b) — Brandes' sigma
    forward pass: the frontier carries per-(seed, node) path counts,
    each level sums predecessor counts per landing node (one map-side-
    combined groupBy), and nodes already reached anti-join away, so
    counts accrue only at a node's FIRST level — which is exactly "all
    shortest paths" (a minimal-length walk can never revisit a node,
    so every counted walk is simple and a loopless-enumeration oracle
    agrees).  Self-loop edges are dropped and a==b rows excluded (a
    walk through the start or a self-loop is never minimal; openCypher
    likewise never matches a zero/loop path here).  Binds a, b,
    pvar__len and pvar__cnt (reach them as length(p) / p.len /
    p.cnt).

    With ``want_nodes`` (nodes(p)/relationships(p) referenced) the
    lowering ENUMERATES instead: one row per distinct shortest path
    carrying its node array (pvar__nodes; pvar__cnt is then unbound —
    the row multiplicity IS the count, and a parity test pins
    enumerated-row counts == the counting form's p.cnt).  Guarded by
    ALLSP_ENUM_FRONTIER_LIMIT per level."""
    if len(triples) != 1:
        raise ValueError(
            "cypher: allShortestPaths takes exactly one (a)-[..]->(b) pattern"
        )
    left, edge, right = triples[0]
    if edge.props:
        raise ValueError(
            "cypher: allShortestPaths does not take a {cost: ..} map "
            "(weighted counting is not supported; use shortestPath)"
        )
    a, b = left.var, right.var
    if a == b:
        raise ValueError("cypher: allShortestPaths endpoints must be distinct")
    edf = cg.edges_for(edge.etype).select("src", "dst")
    s, d = ("dst", "src") if edge.reverse else ("src", "dst")
    base = edf.select(F.col(s).alias("__u"), F.col(d).alias("__v"))
    if edge.undirected:
        # undirected counting walks the DISTINCT symmetric closure
        # (relationships are distinct-pair rollups, so an unordered
        # pair is one relationship regardless of listed orientations)
        base = base.unionByName(
            edf.select(F.col(d).alias("__u"), F.col(s).alias("__v"))
        ).distinct()
    base = base.filter(F.col("__u") != F.col("__v")).localCheckpoint(eager=True)
    seeds = base.select(F.col("__u").alias(a)).distinct()
    seeds = _node_filter(cg, left, seeds, a)
    plen, pcnt = f"{pvar}__len", f"{pvar}__cnt"
    pnodes = f"{pvar}__nodes"
    if want_nodes:
        # ENUMERATION branch (VERDICT r07 item 6 — refusal lifted):
        # nodes(p) binds, so each frontier row is ONE distinct shortest
        # path carried as a node array.  Same first-reach anti-join as
        # the counting form, so every kept row is a simple path at its
        # pair's minimal level (a minimal walk never revisits a node —
        # cutting the loop would give a shorter walk, contradicting
        # first reach), and by the prefix property every shortest path
        # is generated (a shortest path's prefix is itself a shortest
        # path, so it sits in the frontier at its level).  No per-level
        # dedup is needed: edge frames are distinct pairs, so distinct
        # predecessor paths extend to distinct arrays.  Enumeration is
        # inherently output-sized — the per-level row count is checked
        # against ALLSP_ENUM_FRONTIER_LIMIT and refused above it (the
        # counting form stays one row per pair at any scale).
        frontier = (
            seeds.join(base, F.col(a) == F.col("__u"))
            .select(a, F.col("__v").alias(b))
            .withColumn(pnodes, F.array(F.col(a), F.col(b)))
            .localCheckpoint(eager=True)
        )
        reached = frontier.select(a, b)
        acc = frontier.withColumn(plen, F.lit(1))
        for level in range(2, edge.max_len + 1):
            # drop a==b (back-to-start cycle) rows BEFORE the limit
            # check and extension: they never reach the output (final
            # a != b filter) and every extension a->..->a->v lands on a
            # pair (a, v) already reached at level 1 (v is a's
            # neighbor), so the anti-join kills it — keeping them only
            # inflates the frontier against ALLSP_ENUM_FRONTIER_LIMIT
            # on dense mutual graphs (ADVICE r8)
            frontier = (
                frontier.join(base, F.col(b) == F.col("__u"))
                .select(
                    F.col(a),
                    F.col("__v").alias("__b2"),
                    F.concat(F.col(pnodes), F.array(F.col("__v"))).alias(pnodes),
                )
                .withColumnRenamed("__b2", b)
                .join(reached, [a, b], "left_anti")
                .filter(F.col(a) != F.col(b))
                .localCheckpoint(eager=True)
            )
            n_rows = frontier.count()
            if n_rows == 0:
                break
            if n_rows > ALLSP_ENUM_FRONTIER_LIMIT:
                raise ValueError(
                    f"cypher: allShortestPaths enumeration produced "
                    f"{n_rows} paths at level {level} (limit "
                    f"{ALLSP_ENUM_FRONTIER_LIMIT}); drop nodes(p)/"
                    "relationships(p) and use p.cnt (the counting form "
                    "stays one row per endpoint pair at any scale)"
                )
            acc = acc.unionByName(frontier.withColumn(plen, F.lit(level)))
            reached = (
                reached.unionByName(frontier.select(a, b).distinct())
                .localCheckpoint(eager=True)
            )
        out = acc.filter(F.col(a) != F.col(b))
        out = _node_filter(cg, right, out, b)
        if edge.min_len > 1:
            out = out.filter(F.col(plen) >= edge.min_len)
        return out, {a, b}, pvar
    frontier = (
        seeds.join(base, F.col(a) == F.col("__u"))
        .groupBy(a, F.col("__v").alias(b))
        .agg(F.count(F.lit(1)).cast("long").alias(pcnt))
        .localCheckpoint(eager=True)
    )
    acc = frontier.withColumn(plen, F.lit(1))
    for level in range(2, edge.max_len + 1):
        frontier = (
            frontier.join(base, F.col(b) == F.col("__u"))
            .groupBy(a, F.col("__v").alias("__w"))
            .agg(F.sum(pcnt).cast("long").alias(pcnt))
            .withColumnRenamed("__w", b)
            .join(acc.select(a, b), [a, b], "left_anti")
            .localCheckpoint(eager=True)
        )
        if frontier.isEmpty():
            break
        acc = acc.unionByName(frontier.withColumn(plen, F.lit(level)))
    out = acc.filter(F.col(a) != F.col(b))
    out = _node_filter(cg, right, out, b)
    if edge.min_len > 1:
        out = out.filter(F.col(plen) >= edge.min_len)
    return out, {a, b}, pvar


def _weighted_shortest_frame(
    cg: CypherGraph,
    pvar: str,
    left: _Node,
    edge: _Edge,
    right: _Node,
    want_nodes: bool = False,
) -> tuple[DataFrame, set, str]:
    """shortestPath((a {node: lit})-[:TYPE* {cost: 'w'}]->(b)) — the
    WEIGHTED form: min total `w` over paths of at most max_len hops
    from the anchored source, lowered onto the
    :func:`graph.algorithms.shortest_paths_weighted` Bellman-Ford
    kernel (max_iter = hop bound: after h simultaneous relaxation
    rounds the tentative distances are EXACTLY the ≤h-hop minima, and
    with non-negative weights the ≤h-hop walk minimum equals the
    ≤h-hop simple-path minimum, so a loopless-path-enumeration oracle
    agrees).  Binds columns a, b and pvar__cost (reach it as `p.cost`);
    hop counts are not tracked — `length(p)` is the UNWEIGHTED form.
    The source row itself (cost 0) is dropped: a shortestPath match is
    a ≥1-hop path.  Requires a single anchored source — multi-source
    weighted SSSP would need one kernel run per seed.  An undirected
    pattern relaxes over the distinct union of both orientations (each
    lane traversable either way at its own cost; min relaxation keeps
    the cheaper direction of a mutual lane)."""
    if want_nodes:
        raise ValueError(
            "cypher: nodes()/relationships() on a WEIGHTED shortestPath "
            "binding is not supported — the Bellman-Ford lowering tracks "
            "min cost (p.cost), not predecessors; use the unweighted "
            "form for a representative path's nodes"
        )
    if set(edge.props) != {"cost"} or not isinstance(edge.props["cost"], str):
        raise ValueError(
            "cypher: shortestPath property map must be {cost: '<edge property>'}"
        )
    if edge.min_len != 1:
        raise ValueError("cypher: weighted shortestPath requires *1..max bounds")
    a, b = left.var, right.var
    if a == b:
        raise ValueError("cypher: shortestPath endpoints must be distinct variables")
    source = left.props.get("node", left.props.get("id"))
    if source is None:
        raise ValueError(
            "cypher: weighted shortestPath needs an anchored source — "
            "(a {node: '...'}); run one query per source for multi-source"
        )
    wcol = edge.props["cost"]
    edf = cg.edges_for(edge.etype)
    if wcol not in edf.columns:
        raise ValueError(
            f"cypher: relationship :{edge.etype or 'default'} has no "
            f"property {wcol!r} to use as cost"
        )
    s, d = ("dst", "src") if edge.reverse else ("src", "dst")
    base = edf.select(F.col(s).alias("src"), F.col(d).alias("dst"), F.col(wcol))
    if edge.undirected:
        base = base.unionByName(
            edf.select(F.col(d).alias("src"), F.col(s).alias("dst"), F.col(wcol))
        ).distinct()

    from .algorithms import shortest_paths_weighted
    from .property_graph import PropertyGraph as _PG

    verts = (
        base.select(F.col("src").alias("id"))
        .unionByName(base.select(F.col("dst").alias("id")))
        .distinct()
    )
    dist = shortest_paths_weighted(
        _PG(verts, base), source, wcol, max_iter=edge.max_len
    )
    pcost = f"{pvar}__cost"
    out = dist.filter(F.col("node") != F.lit(source)).select(
        F.lit(source).alias(a),
        F.col("node").alias(b),
        F.col("dist").alias(pcost),
    )
    out = _node_filter(cg, left, out, a)
    out = _node_filter(cg, right, out, b)
    return out, {a, b}, pvar


_PATH_BIND = re.compile(r"^\s*(?P<pvar>\w+)\s*=\s*(?P<inner>\(.+)$", re.DOTALL)


def _path_enum_frame(cg: CypherGraph, pvar: str, triples) -> tuple[DataFrame, set, str]:
    """General named-path binding `p = (a)-[:T*min..max]->(b)` OUTSIDE
    shortestPath: one row PER PATH (openCypher), binding a, b,
    pvar__len and pvar__nodes (the node array in traversal order;
    `nodes(p)` / `relationships(p)` / `length(p)` resolve onto these).
    Trail semantics enforced as in openCypher — a relationship is
    traversed at most once per path — via an array-distinct filter on
    the consecutive-pair list (unordered pairs when undirected, since
    one undirected relationship covers both directions).

    Scale shape: unlike the pair-distinct `_varlen_leg` (bounded by
    |V|²), path ENUMERATION is inherently output-sized — deg^k rows
    for k hops on a dense graph.  That is what the user asked for by
    binding the path; the hop bound caps the join-chain depth, label/
    anchor filters on `a` are pushed below the first join, and each
    length-k frame is one k-join chain Catalyst plans with no driver
    loop.  Bind paths on anchored or label-restricted sources at
    scale."""
    if len(triples) != 1:
        raise ValueError(
            "cypher: a named path binds exactly one (a)-[:T*min..max]->(b) "
            "pattern (chain further hops in separate MATCH blocks)"
        )
    left, edge, right = triples[0]
    if edge.props:
        raise ValueError(
            "cypher: property maps on a named-path pattern are not "
            "supported (filter e.prop via single-hop MATCH legs instead)"
        )
    a, b = left.var, right.var
    if a == b:
        raise ValueError("cypher: named-path endpoints must be distinct variables")
    edf = cg.edges_for(edge.etype).select("src", "dst")
    s, d = ("dst", "src") if edge.reverse else ("src", "dst")
    base = edf.select(F.col(s).alias("__u"), F.col(d).alias("__v"))
    if edge.undirected:
        base = base.unionByName(
            edf.select(F.col(d).alias("__u"), F.col(s).alias("__v"))
        ).distinct()
    plen, pnodes = f"{pvar}__len", f"{pvar}__nodes"
    cur = base.select(F.col("__u").alias("__n0"), F.col("__v").alias("__n1"))
    cur = _node_filter(cg, left, cur, "__n0")
    out = None
    for k in range(1, edge.max_len + 1):
        if k > 1:
            step = base.select(F.col("__u").alias("__m"), F.col("__v").alias(f"__n{k}"))
            cur = cur.join(step, F.col(f"__n{k - 1}") == F.col("__m")).drop("__m")
        if k >= edge.min_len:
            lvl = cur.select(
                F.col("__n0").alias(a),
                F.col(f"__n{k}").alias(b),
                F.lit(k).cast("int").alias(plen),
                F.array(*[F.col(f"__n{i}") for i in range(k + 1)]).alias(pnodes),
            )
            out = lvl if out is None else out.unionByName(lvl)
    assert out is not None
    # relationship identity as a STRUCT of endpoint ids (unordered pair
    # when undirected) — id-agnostic, unlike the user-facing
    # relationships(p) string rendering whose '->' separator is only a
    # display convention
    if edge.undirected:
        rels = F.expr(
            f"transform(slice({pnodes}, 1, size({pnodes}) - 1), "
            f"(x, i) -> struct(least(x, element_at({pnodes}, i + 2)) AS s, "
            f"greatest(x, element_at({pnodes}, i + 2)) AS d))"
        )
    else:
        rels = F.expr(
            f"transform(slice({pnodes}, 1, size({pnodes}) - 1), "
            f"(x, i) -> struct(x AS s, element_at({pnodes}, i + 2) AS d))"
        )
    out = out.filter(F.size(F.array_distinct(rels)) == F.col(plen))
    out = _node_filter(cg, right, out, b)
    return out, {a, b}, pvar


def _path_rels_sql(pv: str) -> str:
    """`relationships(p)` as a pure expression over the bound node
    array: consecutive node pairs rendered 'src->dst' in traversal
    order (relationships here are distinct-pair rollups, so the pair
    IS the relationship's identity) — array<string>, one element per
    hop, zero extra joins.  The '->' separator is a DISPLAY
    convention: node ids containing '->' render ambiguously here, but
    never affect semantics — the trail filter in _path_enum_frame
    compares endpoint STRUCTS, not these strings."""
    n = f"{pv}__nodes"
    return (
        f"transform(slice({n}, 1, size({n}) - 1), "
        f"(x, i) -> concat(x, '->', element_at({n}, i + 2)))"
    )


def _rewrite(
    expr: str,
    node_vars: set[str],
    edge_vars: set[str],
    path_vars: set[str] = frozenset(),
) -> str:
    """Rewrite Cypher references to bound column names: `e.prop` ->
    e__prop for edge vars, `v.node` -> v (a node's only scalar is its
    id), `nodes(p)` -> p__nodes and `relationships(p)` -> a transform
    over p__nodes for path vars — everything else (Spark SQL
    functions, literals) passes through.  Quoted string literals are
    never rewritten (a literal 'a.node' must stay a literal)."""

    def sub(m):
        var, prop = m.group(1), m.group(2)
        if var in edge_vars:
            return f"{var}__{prop}"
        if var in node_vars:
            if prop in ("node", "id"):
                return var
            raise ValueError(
                f"cypher: node variable {var!r} has no property {prop!r} "
                "(node ids are the only node scalar on this graph; join "
                "attribute tables before/after the pattern for more)"
            )
        return m.group(0)  # e.g. a qualified SQL function or table ref

    # Cypher string operators -> Spark SQL functions (quote-aware),
    # collect() -> sort_array(collect_list/...set()) (deterministic),
    # then list literals -> array(...) (quote-aware)
    expr = _string_ops_rewrite(expr)
    expr = _collect_rewrite(expr)
    expr = _bracket_lists_to_array(expr)
    # split out quoted spans (odd indices after re.split with a capture
    # group) and rewrite only the code between them
    parts = re.split(r"('[^']*'|\"[^\"]*\")", expr)
    for i in range(0, len(parts), 2):
        # length(p) on a shortestPath binding -> its hop-count column
        parts[i] = re.sub(
            r"\blength\s*\(\s*(\w+)\s*\)",
            lambda mm: f"{mm.group(1)}__len" if mm.group(1) in edge_vars else mm.group(0),
            parts[i],
            flags=re.IGNORECASE,
        )
        # head/last over a path accessor — the openCypher endpoint
        # idiom — rewritten ONLY in this composite form so Spark's
        # last() AGGREGATE stays reachable as a plain passthrough
        def _hl(mm):
            fn, inner_fn, pv = (
                mm.group(1).lower(),
                mm.group(2).lower(),
                mm.group(3),
            )
            if pv not in path_vars:
                return mm.group(0)
            inner = f"{pv}__nodes" if inner_fn == "nodes" else _path_rels_sql(pv)
            return f"element_at({inner}, {'1' if fn == 'head' else '-1'})"

        parts[i] = re.sub(
            r"\b(head|last)\s*\(\s*(nodes|relationships)\s*\(\s*(\w+)\s*\)\s*\)",
            _hl,
            parts[i],
            flags=re.IGNORECASE,
        )
        # nodes(p) -> the bound node-array column; relationships(p) ->
        # consecutive-pair strings derived from it (no extra state)
        parts[i] = re.sub(
            r"\bnodes\s*\(\s*(\w+)\s*\)",
            lambda mm: f"{mm.group(1)}__nodes"
            if mm.group(1) in path_vars
            else mm.group(0),
            parts[i],
            flags=re.IGNORECASE,
        )
        parts[i] = re.sub(
            r"\brelationships\s*\(\s*(\w+)\s*\)",
            lambda mm: _path_rels_sql(mm.group(1))
            if mm.group(1) in path_vars
            else mm.group(0),
            parts[i],
            flags=re.IGNORECASE,
        )
        parts[i] = _PROP_REF.sub(sub, parts[i])
    return "".join(parts)


def cypher(
    cg: CypherGraph | PropertyGraph,
    query: str,
) -> DataFrame:
    """Compile and run a Cypher-subset query against the graph.
    Returns the result DataFrame; see module docstring for the grammar.
    """
    if isinstance(cg, PropertyGraph):
        cg = CypherGraph(cg)
    segments, union_all = _split_union(query)
    if len(segments) > 1:
        for k, seg in enumerate(segments, 1):
            if re.search(r"\bORDER\s+BY\b", _blank_quotes(seg), re.IGNORECASE):
                raise ValueError(
                    f"cypher: ORDER BY inside UNION segment {k} is not "
                    "supported (the order of a union is undefined in "
                    "Cypher; order in the consuming query instead)"
                )
        frames = [cypher(cg, seg) for seg in segments]
        cols = frames[0].columns
        for k, f in enumerate(frames[1:], 2):
            if f.columns != cols:
                raise ValueError(
                    f"cypher: UNION subquery {k} returns columns "
                    f"{f.columns}, expected {cols} (all subqueries must "
                    "return the same column names in the same order)"
                )
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out if union_all else out.distinct()
    query, call_bodies = _extract_calls(query)
    bad = _UNSUPPORTED.search(_blank_quotes(query))
    if bad:
        raise ValueError(
            f"cypher: {bad.group(0)} is not supported in this subset "
            "(single MATCH .. WHERE .. RETURN .. ORDER BY .. LIMIT)"
        )
    proc = _CALL_PROC.search(_blank_quotes(query))
    if proc:
        raise ValueError(
            "cypher: CALL procedures are not supported; only "
            "CALL { MATCH .. RETURN .. } subqueries"
        )
    clauses = _split_clauses(query)
    if clauses[0][0] not in ("MATCH", "CALL", "WITH", "UNWIND"):
        raise ValueError("cypher: expected MATCH <patterns> [WHERE ..] ... RETURN ..")
    if clauses[-1][0] != "RETURN":
        raise ValueError("cypher: query must end with a RETURN clause")
    if sum(1 for kw, _ in clauses if kw == "RETURN") != 1:
        raise ValueError("cypher: exactly one RETURN clause is supported")

    anon = [0]
    node_vars: set[str] = set()
    edge_vars: set[str] = set()
    path_vars: set[str] = set()  # vars binding a <pvar>__nodes array
    call_vars: set[str] = set()  # scalars produced by CALL subqueries
    labels: dict[str, str] = {}

    def wants_nodes(pv: str) -> bool:
        """Does the query text reference nodes(pv)/relationships(pv)?
        Decides whether a shortestPath BFS carries the representative
        node array (free otherwise).  Quoted string literals are
        blanked first — a literal mentioning 'nodes(p)' must not flip
        the flag (or trip the allShortestPaths/weighted refusals)."""
        code = re.sub(r"'[^']*'|\"[^\"]*\"", "''", query)
        return bool(
            re.search(
                rf"\b(?:nodes|relationships)\s*\(\s*{re.escape(pv)}\s*\)",
                code,
                re.IGNORECASE,
            )
        )

    def build_block(triples) -> tuple[DataFrame, set, set]:
        """Chain-join one MATCH block's triples (labels + property maps
        pushed onto the legs before the joins)."""
        frame: DataFrame | None = None
        bn: set[str] = set()
        be: set[str] = set()
        for left, edge, right in triples:
            for nd in (left, right):
                if nd.label is not None:
                    prev = labels.setdefault(nd.var, nd.label)
                    if prev != nd.label:
                        raise ValueError(
                            f"cypher: variable {nd.var!r} bound to two labels "
                            f":{prev} and :{nd.label}"
                        )
            a, b = left.var, right.var
            # self-loop pattern (a)-[..]->(a): alias the far endpoint,
            # filter equality, drop — two columns can't share one name
            b_out = "__self" if a == b else b
            if edge.max_len > 1 or edge.min_len > 1:
                if edge.props:
                    raise ValueError(
                        "cypher: property maps on variable-length edges are "
                        "only supported inside shortestPath ({cost: 'prop'})"
                    )
                leg = _varlen_leg(cg, edge, a, b_out)
            else:
                if edge.var in be or edge.var in edge_vars:
                    raise ValueError(
                        f"cypher: edge variable {edge.var!r} is bound twice "
                        "(edge variables must be unique per query)"
                    )
                if edge.var in node_vars or edge.var in path_vars:
                    raise ValueError(
                        f"cypher: edge variable {edge.var!r} collides with "
                        "a variable already bound in the scope (a WITH/"
                        "CALL alias or path); pick a fresh name"
                    )
                leg = _leg(cg, edge, a, b_out)
                be.add(edge.var)
            if a == b:
                leg = leg.filter(F.col(a) == F.col("__self")).drop("__self")
            # label/property pushdown: filter the leg BEFORE the join so
            # the predicate reaches the edge scan
            for nd, col in ((left, a), (right, b)):
                if nd.label is not None:
                    leg = leg.filter(cg.label_pred(nd.label, F.col(col)))
                for k, v in nd.props.items():
                    if k not in ("node", "id"):
                        raise ValueError(
                            f"cypher: node variable {nd.var!r} has no property "
                            f"{k!r} (node ids are the only node scalar)"
                        )
                    leg = leg.filter(F.col(col) == F.lit(v))
            for k, v in edge.props.items():
                pcol = f"{edge.var}__{k}"
                if pcol not in leg.columns:
                    raise ValueError(
                        f"cypher: edge {edge.var!r} has no property {k!r}"
                    )
                leg = leg.filter(F.col(pcol) == F.lit(v))
            if frame is None:
                frame = leg
            else:
                shared = list(dict.fromkeys(v for v in (a, b) if v in bn))
                if not shared:
                    raise ValueError(
                        f"cypher: pattern ({a})-..->({b}) is disconnected from "
                        "the earlier patterns (cartesian products are refused; "
                        "join on a shared variable)"
                    )
                # rename shared vars on the new leg and join on equality
                ren = leg
                for v in shared:
                    ren = ren.withColumnRenamed(v, f"__j_{v}")
                cond = None
                for v in shared:
                    c = F.col(v) == F.col(f"__j_{v}")
                    cond = c if cond is None else (cond & c)
                frame = frame.join(ren, cond)
                for v in shared:
                    frame = frame.drop(f"__j_{v}")
            bn |= {a, b}
        assert frame is not None
        return frame, bn, be

    def build_any(pat_text: str) -> tuple[DataFrame, set, set]:
        """A MATCH block body: either a shortestPath binding or a plain
        pattern chain."""
        sp = _SHORTEST.match(pat_text)
        if sp:
            builder = (
                _all_shortest_frame
                if sp.group("all").lower() == "allshortestpaths"
                else _shortest_frame
            )
            wn = wants_nodes(sp.group("pvar"))
            frame, bn2, pv = builder(
                cg,
                sp.group("pvar"),
                _parse_patterns(sp.group("inner"), anon),
                want_nodes=wn,
            )
            if wn:
                path_vars.add(pv)
            return frame, bn2, {pv}
        pm = _PATH_BIND.match(pat_text)
        if pm:
            frame, bn2, pv = _path_enum_frame(
                cg, pm.group("pvar"), _parse_patterns(pm.group("inner"), anon)
            )
            path_vars.add(pv)
            return frame, bn2, {pv}
        return build_block(_parse_patterns(pat_text, anon))

    count_n = [0]

    def lower_count_subqs(
        frame: DataFrame, text: str, nvars: set, evars: set
    ) -> tuple[DataFrame, str]:
        """Lower every ``count { (c)-[:T]->(s) [WHERE ..] }`` expression
        in `text` to a column reference: the subpattern is chain-joined
        (build_block — labels/props pushed to the legs), optionally
        filtered by its inner WHERE, grouped by the variables SHARED
        with the outer scope, counted, and LEFT-joined onto the scope
        frame; the span is replaced by ``coalesce(cnt, 0)`` so
        non-matching rows count 0 (openCypher).  One pre-aggregate +
        one hash join per subquery — the g94/g129 left-join shape,
        never a cartesian; variables bound only inside the subpattern
        stay existential."""
        while True:
            blank = _blank_quotes(text)
            m = _COUNT_SUBQ.search(blank)
            if not m:
                return frame, text
            close = _match_brace(blank, m.end() - 1)
            inner = _strip_subq_match(text[m.end():close], "count")
            bm = _BLOCK.match(_blank_quotes(inner))
            pat = _gslice(bm, inner, "pat")
            iw = _gslice(bm, inner, "where")
            triples = _parse_patterns(pat, anon)
            for _, edge, _ in triples:
                if edge.max_len > 1 or edge.min_len > 1:
                    raise ValueError(
                        "cypher: a variable-length edge inside count { .. } "
                        "is not supported — the var-length leg is PAIR-"
                        "distinct, but openCypher counts PATHS; bind a "
                        "named path (p = (a)-[:T*..]->(b)) and aggregate, "
                        "or use allShortestPaths p.cnt"
                    )
            sub, bn, be2 = build_block(triples)
            if iw:
                sub = sub.filter(F.expr(_rewrite(iw, bn, be2, path_vars)))
            shared = sorted(bn & nvars)
            if not shared:
                raise ValueError(
                    "cypher: count { .. } shares no variable with the "
                    "outer scope (an uncorrelated count is a constant "
                    "cartesian — bind at least one outer variable, or "
                    "compute it in a CALL { MATCH .. RETURN count(*) } "
                    "subquery)"
                )
            cname = f"__cs{count_n[0]}"
            count_n[0] += 1
            counts = sub.groupBy(*shared).agg(F.count(F.lit(1)).alias(cname))
            frame = frame.join(counts, shared, "left")
            text = f"{text[:m.start()]}coalesce({cname}, 0){text[close + 1:]}"

    def pattern_branch(text: str):
        """``(neg, triples, inner_where)`` if `text` is one pattern
        predicate — ``[NOT] EXISTS { pattern [WHERE ..] } / ( .. )`` or
        the bare sugar ``[NOT] (a)-[:T]->(b)`` — else ``None``.  The
        optional inner WHERE (r8, matching count{}) filters the
        subpattern frame BEFORE the semi/anti join, so the predicate
        shrinks the build side."""
        em = _EXISTS_PRED.match(text)
        if em:
            if (em.group("open"), em.group("close")) not in (
                ("{", "}"),
                ("(", ")"),
            ):
                raise ValueError(
                    f"cypher: mismatched EXISTS delimiters in {text!r}"
                )
            inner = _strip_subq_match(em.group("inner"), "EXISTS")
            bm = _BLOCK.match(_blank_quotes(inner))
            pat = _gslice(bm, inner, "pat")
            iw = _gslice(bm, inner, "where")
            return bool(em.group("neg")), _parse_patterns(pat, anon), iw
        bp = _BARE_PAT.match(text)
        if bp and _PATTERN_SHAPE.search(text):
            try:
                triples = _parse_patterns(bp.group("pat"), anon)
            except ValueError:
                return None
            return bool(bp.group("neg")), triples, None
        return None

    def classify_or_group(text: str):
        """`text` has a top-level OR.  Return a branch list mixing
        ``("pat", neg, triples, inner_where)`` and ``("expr", sql)``
        entries when at
        least one disjunct is a pattern predicate (lowered later to
        existence flags ORed in one filter), or ``None`` when every
        disjunct is scalar (the plain-filter path handles it whole).
        A disjunct that LOOKS like a pattern (contains a ``-[`` arrow)
        but cannot lower cleanly is refused here — otherwise it would
        surface as an opaque Spark SQL parse error downstream."""
        branches: list[tuple] = []
        saw_pat = False
        for d in _split_disjuncts(text):
            pb = pattern_branch(_strip_outer_parens(d))
            if pb is not None:
                saw_pat = True
                branches.append(("pat", pb[0], pb[1], pb[2]))
                continue
            if _PATTERN_SHAPE.search(d) or re.search(
                r"\bEXISTS\b", d, re.IGNORECASE
            ):
                raise ValueError(
                    "cypher: cannot lower this OR disjunct as a pattern "
                    f"predicate: {d!r} (each disjunct must be a single "
                    "[NOT] EXISTS {{..}} / bare pattern, or a scalar "
                    "expression)"
                )
            branches.append(("expr", d))
        return branches if saw_pat else None

    def classify_where(wtext: str):
        """Partition a WHERE body into pattern predicates and plain
        boolean conjuncts.  Recognized per TOP-LEVEL AND conjunct:
        ``EXISTS { (a)-[:T]->(b) }`` (brace or paren delimited),
        ``NOT EXISTS { .. }``, the bare sugar ``[NOT] (a)-[:T]->(b)``
        — each lowered to a semi/anti join — and disjunctions of those
        (optionally mixed with scalar expressions), lowered to
        existence-flag left joins ORed in one filter.  Returns
        ``(preds, plain)`` where preds entries are
        ``("single", neg, triples)`` or ``("or", branches)``."""
        conjs = _split_conjuncts(wtext)
        if conjs is None:  # top-level OR across the whole body
            group = classify_or_group(wtext)
            if group is not None:
                return [("or", group)], []
            return [], [wtext]
        preds: list[tuple] = []
        plain: list[str] = []
        for conj in conjs:
            pb = pattern_branch(conj)
            if pb is not None:
                preds.append(("single", pb[0], pb[1], pb[2]))
                continue
            inner = _strip_outer_parens(conj)
            if len(_split_disjuncts(inner)) > 1:
                group = classify_or_group(inner)
                if group is not None:
                    preds.append(("or", group))
                    continue
            if _PATTERN_SHAPE.search(conj):
                raise ValueError(
                    "cypher: WHERE conjunct looks like a pattern predicate "
                    f"but cannot be lowered: {conj!r} (supported: [NOT] "
                    "EXISTS {{pattern}}, bare [NOT] (a)-[:T]->(b), and "
                    "top-level OR of those)"
                )
            plain.append(conj)
        return preds, plain

    def apply_pattern_preds(
        frame: DataFrame, preds, nvars: set, evars: set
    ) -> DataFrame:
        """Lower pattern predicates.  A ``single`` entry becomes a
        LEFT-SEMI (EXISTS) or LEFT-ANTI (NOT) join on the variables
        shared with the current scope — the engine's q06/q07 join
        shapes, so Catalyst plans a hash semi/anti join, never a
        cartesian.  An ``or`` group cannot be a semi-join chain (that
        would intersect the branches), so each pattern branch becomes
        a LEFT join against the DISTINCT shared-key set of its
        subpattern, contributing a null/not-null existence flag; the
        branches' flags (and any scalar disjuncts) are ORed in ONE
        filter and the flag columns dropped.  Distinct keys keep the
        left join from duplicating scope rows; variables bound only
        inside a pattern stay existential (never enter the scope)."""
        flag_n = [0]

        def shared_keys(triples, inner_where=None):
            sub, bn, be2 = build_block(triples)
            if inner_where:
                # the EXISTS subquery's own WHERE (r8): filters the
                # subpattern frame BEFORE the semi/anti join, shrinking
                # the build side (same placement as the label/property
                # pushdown)
                sub = sub.filter(
                    F.expr(_rewrite(inner_where, bn, be2, path_vars))
                )
            shared = sorted(bn & nvars)
            if not shared:
                raise ValueError(
                    "cypher: EXISTS/NOT pattern shares no variable with the "
                    "outer scope (a free-floating existence test is a "
                    "cartesian product; bind at least one outer variable)"
                )
            return sub, shared

        for entry in preds:
            if entry[0] == "single":
                _, neg, triples, iw = entry
                sub, shared = shared_keys(triples, iw)
                frame = frame.join(
                    sub.select(*shared), shared, "left_anti" if neg else "left_semi"
                )
                continue
            branches = entry[1]
            conds = []
            flags = []
            for br in branches:
                if br[0] == "expr":
                    conds.append(F.expr(_rewrite(br[1], nvars, evars, path_vars)))
                    continue
                _, neg, triples, iw = br
                sub, shared = shared_keys(triples, iw)
                flag = f"__pp{flag_n[0]}"
                flag_n[0] += 1
                keys = sub.select(*shared).distinct().withColumn(flag, F.lit(1))
                frame = frame.join(keys, shared, "left")
                flags.append(flag)
                present = F.col(flag).isNotNull()
                conds.append(~present if neg else present)
            cond = conds[0]
            for c in conds[1:]:
                cond = cond | c
            frame = frame.filter(cond)
            if flags:
                frame = frame.drop(*flags)
        return frame

    def apply_where(frame: DataFrame, wtext: str, nvars: set, evars: set) -> DataFrame:
        # count { .. } spans must lower BEFORE conjunct classification
        # (their pattern shape would otherwise be taken for a pattern
        # predicate); the helper columns are dropped after the filter
        frame, wtext = lower_count_subqs(frame, wtext, nvars, evars)
        preds, plain = classify_where(wtext)
        frame = apply_pattern_preds(frame, preds, nvars, evars)
        if plain:
            sql = " AND ".join(f"({p})" for p in plain)
            frame = frame.filter(F.expr(_rewrite(sql, nvars, evars, path_vars)))
        helpers = [c for c in frame.columns if c.startswith("__cs")]
        if helpers:
            frame = frame.drop(*helpers)
        return frame

    def project(frame: DataFrame, text: str, nvars: set, evars: set):
        """One projection stage (shared by WITH and RETURN): item split,
        reference rewriting, implicit Cypher GROUP BY when any item
        aggregates, original item order restored.  Returns the new
        frame + its alias list (the variable scope downstream)."""
        frame, text = lower_count_subqs(frame, text, nvars, evars)
        sel: list[tuple[str, str, bool]] = []  # (sql, alias, is_agg)
        for item in _split_top_level(text):
            if item.strip() == "*":
                # RETURN * / WITH * (openCypher): expand to the bound
                # variables — node vars and WITH aliases as themselves;
                # edge/path vars expand to their property columns
                # (e__weight, p__len, ...), which stay addressable as
                # e.weight downstream because a star-stage keeps the
                # edge scope alive (see the WITH branch)
                for v in sorted(nvars):
                    if v in frame.columns:
                        sel.append((v, v, False))
                for vv in sorted(evars | path_vars):
                    for c in frame.columns:
                        if c.startswith(f"{vv}__"):
                            sel.append((c, c, False))
                continue
            mm = re.match(r"^(.*?)\s+AS\s+(\w+)\s*$", item, re.IGNORECASE | re.DOTALL)
            if mm:
                raw, alias = mm.group(1).strip(), mm.group(2)
            else:
                raw = item
                alias = item if re.fullmatch(r"\w+", item) else None
            sql = _rewrite(raw, nvars, evars, path_vars)
            if alias is None:
                alias = re.sub(r"\W+", "_", raw).strip("_").lower() or "expr"
            sel.append((sql, alias, bool(_AGG_RE.search(sql))))
        seen_aliases = [a for _, a, _ in sel]
        if len(seen_aliases) != len(set(seen_aliases)):
            dup = next(a for a in seen_aliases if seen_aliases.count(a) > 1)
            raise ValueError(
                f"cypher: duplicate output name {dup!r} in one projection "
                "(a `*` already carries every bound variable — alias the "
                "extra item to a fresh name)"
            )
        if any(is_agg for _, _, is_agg in sel):
            keys = [(sql, alias) for sql, alias, is_agg in sel if not is_agg]
            aggs = [(sql, alias) for sql, alias, is_agg in sel if is_agg]
            gb = frame.groupBy(*[F.expr(sql).alias(alias) for sql, alias in keys])
            frame = gb.agg(*[F.expr(sql).alias(alias) for sql, alias in aggs])
            # restore the item order
            frame = frame.select(*[alias for _, alias, _ in sel])
        else:
            frame = frame.select(*[F.expr(sql).alias(alias) for sql, alias, _ in sel])
        return frame, [alias for _, alias, _ in sel]

    # Walk the clause sequence.  MATCH / OPTIONAL MATCH blocks join on
    # the variables shared with the preceding scope (a WITH alias is a
    # node variable downstream, so MATCH-after-WITH anchors on the
    # carried aliases — the Neo4j aggregate-then-expand idiom); each
    # block's WHERE rides the join condition (for OPTIONAL that is the
    # openCypher null-extension semantic; for inner MATCH it keeps the
    # predicate at the join, where Catalyst can use it).  WITH stages
    # project/aggregate and rebind the scope to their aliases; a WITH's
    # WHERE filters the PROJECTED rows (the Cypher HAVING).
    out: DataFrame | None = None
    for kw, body in clauses[:-1]:
        if kw in ("MATCH", "OPTIONAL MATCH"):
            # structural regexes run on a quote-blanked copy (same
            # length) so a WHERE/ORDER BY/LIMIT inside a string literal
            # never splits the clause; group spans slice the original
            bm = _BLOCK.match(_blank_quotes(body))
            bm_pat, bm_where = _gslice(bm, body, "pat"), _gslice(bm, body, "where")
            frame, bn, be = build_any(bm_pat)
            if out is None:
                out = frame
                node_vars |= bn
                edge_vars |= be
                if bm_where:
                    out = apply_where(out, bm_where, node_vars, edge_vars)
                continue
            anchors = sorted(bn & node_vars)
            if not anchors:
                if node_vars and node_vars <= call_vars and kw == "MATCH":
                    # MATCH after CALL: the whole scope is CALL-produced
                    # scalars (the broadcast-threshold idiom) — the
                    # cross product IS the semantics, and the scalar
                    # side is tiny (typically one aggregate row), so
                    # Spark broadcasts it
                    out = out.crossJoin(frame)
                    node_vars |= bn
                    edge_vars |= be
                    if bm_where:
                        out = apply_where(out, bm_where, node_vars, edge_vars)
                    continue
                raise ValueError(
                    "cypher: MATCH block shares no variable with the "
                    "preceding scope (cartesian products are refused)"
                )
            ren = frame
            for v in anchors:
                ren = ren.withColumnRenamed(v, f"__j_{v}")
            cond = None
            for v in anchors:
                c = F.col(v) == F.col(f"__j_{v}")
                cond = c if cond is None else (cond & c)
            where_preds: list = []
            post_count_where: str | None = None
            if bm_where and _COUNT_SUBQ.search(_blank_quotes(bm_where)):
                if kw == "OPTIONAL MATCH":
                    raise ValueError(
                        "cypher: count { .. } in an OPTIONAL MATCH WHERE "
                        "is not supported (it would decide match success; "
                        "compute the count in a WITH stage first)"
                    )
                # for an inner MATCH, filtering after the join is
                # equivalent to evaluating in the block's WHERE — and
                # the count's left join needs the joined scope
                post_count_where, bm_where = bm_where, None
            if bm_where:
                where_preds, plain = classify_where(bm_where)
                if where_preds and kw == "OPTIONAL MATCH":
                    # openCypher: an OPTIONAL MATCH's WHERE decides
                    # whether the pattern MATCHED (failing rows null-
                    # extend, they don't disappear) — so pattern
                    # predicates are applied to the optional-side frame
                    # BEFORE the null-extending left join.  They may
                    # reference this block's variables (anchors
                    # included); outer-only variables have no column
                    # here and are refused by the shared-var check.
                    frame = apply_pattern_preds(frame, where_preds, bn, be)
                    ren = frame
                    for v in anchors:
                        ren = ren.withColumnRenamed(v, f"__j_{v}")
                    where_preds = []
                if plain:
                    cond = cond & F.expr(
                        _rewrite(
                            " AND ".join(f"({p})" for p in plain),
                            node_vars | bn,
                            edge_vars | be,
                            path_vars,
                        )
                    )
            out = out.join(ren, cond, "left" if kw == "OPTIONAL MATCH" else "inner")
            for v in anchors:
                out = out.drop(f"__j_{v}")
            node_vars |= bn
            edge_vars |= be
            # pattern predicates filter AFTER the inner join — for an
            # inner MATCH that is equivalent to evaluating them in the
            # block's WHERE, and the semi/anti join sees the full scope
            out = apply_pattern_preds(out, where_preds, node_vars, edge_vars)
            if post_count_where:
                out = apply_where(out, post_count_where, node_vars, edge_vars)
        elif kw == "CALL":
            # CALL { MATCH .. RETURN .. }: an UNCORRELATED subquery,
            # compiled independently (full recursion — it may use any
            # feature, including nested CALLs) and cross-joined into
            # the scope at ITS clause position (openCypher: each scope
            # row combines with each subquery row — hoisting past an
            # aggregating WITH would change counts, so position is
            # honored).  The idiomatic use returns ONE aggregate row
            # (a global threshold/denominator); Spark broadcasts the
            # tiny side, so the cross join is a broadcast append, not
            # a blowup.  Result aliases enter the scope as variables
            # (MATCH-after-CALL anchors on them, like WITH aliases).
            #
            # CALL { WITH c MATCH .. RETURN agg(..) AS x }: the Neo4j-5
            # CORRELATED (scope-importing) form.  Per-row execution is
            # lowered set-at-a-time, the count{}-subquery shape: the
            # body (minus the importing WITH) compiles independently
            # with the imported variables injected into its RETURN as
            # implicit grouping keys, and the resulting pre-aggregate
            # LEFT-joins onto the scope on those keys — one aggregate
            # + one hash join regardless of scope size, never a
            # re-execution per row.  Exact because an all-aggregate
            # body is a pure function of the imported values.  Bodies
            # whose RETURN is NOT all-aggregates would multiply scope
            # rows and are refused (use OPTIONAL MATCH, or collect()).
            # Zero-match rows follow Neo4j: count/sum -> 0,
            # collect -> [], avg/min/max -> null.
            cm = re.match(r"^\s*__c(\d+)\s*$", body)
            # a literal `CALL __cN` typed by the user (no braced body was
            # extracted, or N beyond the extracted count) must get the
            # clear refusal, not an IndexError (ADVICE r8)
            if not cm or int(cm.group(1)) >= len(call_bodies):
                raise ValueError(
                    "cypher: CALL must be followed by a braced subquery: "
                    "CALL { MATCH .. RETURN .. }"
                )
            cbody = call_bodies[int(cm.group(1))]
            if re.match(r"\s*WITH\b", cbody, re.IGNORECASE):
                if out is None:
                    raise ValueError(
                        "cypher: a correlated CALL { WITH .. } needs a "
                        "preceding MATCH/WITH scope to import from"
                    )
                sub, imports, fill = _correlated_call_frame(
                    cg, cbody, node_vars | call_vars, edge_vars, path_vars
                )
                new_cols = set(sub.columns) - set(imports)
                clash = new_cols & (node_vars | edge_vars | path_vars)
                if clash:
                    raise ValueError(
                        f"cypher: CALL subquery returns {sorted(clash)} "
                        "which already exist in the outer scope (alias "
                        "the subquery's RETURN items to fresh names)"
                    )
                out = out.join(sub, imports, "left")
                # Neo4j zero-row aggregate identities for unmatched
                # scope rows: count/sum -> 0, collect -> [] (avg/min/
                # max stay null, also Neo4j's answer)
                for alias, kind in fill.items():
                    dt = out.schema[alias].dataType
                    zero = (
                        F.array().cast(dt)
                        if kind == "collect"
                        else F.lit(0).cast(dt)
                    )
                    out = out.withColumn(
                        alias, F.coalesce(F.col(alias), zero)
                    )
                node_vars |= new_cols
                call_vars |= new_cols
                continue
            sub = cypher(cg, cbody)
            clash = set(sub.columns) & (node_vars | edge_vars | path_vars)
            if clash:
                raise ValueError(
                    f"cypher: CALL subquery returns {sorted(clash)} which "
                    "already exist in the outer scope (alias the "
                    "subquery's RETURN items to fresh names)"
                )
            out = sub if out is None else out.crossJoin(sub)
            node_vars |= set(sub.columns)
            call_vars |= set(sub.columns)
        elif kw == "UNWIND":
            # UNWIND <list expr> AS var [WHERE post]: explode the
            # (rewritten) list expression into one row per element —
            # the collect-then-re-expand idiom's second half
            um = re.match(
                r"^\s*(?P<expr>.+?)\s+AS\s+(?P<var>\w+)"
                r"(?:\s+WHERE\s+(?P<post>.+))?\s*$",
                _blank_quotes(body),
                re.IGNORECASE | re.DOTALL,
            )
            if not um:
                raise ValueError("cypher: expected UNWIND <expr> AS <var>")
            if out is None:
                # leading UNWIND (r9 — `UNWIND ['c1','c2'] AS t
                # MATCH ..`): explode a literal list from a one-row
                # seed; the variable enters as a CALL-style scalar so
                # a following MATCH cross-joins the small exploded
                # frame (the parameter-list lookup idiom)
                out = cg.graph.vertices.sparkSession.range(1).select()
                call_vars = call_vars | {um.group("var")}
            var = um.group("var")
            if var in node_vars or var in edge_vars or var in path_vars:
                # withColumn would silently OVERWRITE the bound column
                # and downstream references would read exploded values
                raise ValueError(
                    f"cypher: UNWIND variable {var!r} is already declared "
                    "(openCypher refuses redeclaration too); pick a fresh "
                    "name"
                )
            out = out.withColumn(
                var,
                F.explode(
                    F.expr(
                        _rewrite(
                            _gslice(um, body, "expr"),
                            node_vars,
                            edge_vars,
                            path_vars,
                        )
                    )
                ),
            )
            node_vars = node_vars | {var}
            post = _gslice(um, body, "post")
            if post:
                out = apply_where(out, post, node_vars, edge_vars)
        else:  # WITH stage
            head, stage_ops = _split_stage_ops(body)
            dm = re.match(r"^\s*DISTINCT\s+", head, re.IGNORECASE)
            if dm:
                head = head[dm.end():]
            if not head.strip():
                raise ValueError(f"cypher: cannot parse WITH stage {body!r}")
            kinds = [k for k, _ in stage_ops]
            if len(kinds) != len(set(kinds)):
                raise ValueError(
                    f"cypher: duplicate clause in WITH stage {body!r}"
                )
            if "ORDER BY" in kinds and not ({"SKIP", "LIMIT"} & set(kinds)):
                raise ValueError(
                    "cypher: ORDER BY in a WITH stage needs a SKIP or "
                    "LIMIT — row order is not observable through later "
                    "clauses, so an un-cut sort is pure plan tax (order "
                    "in RETURN instead, or add LIMIT for the top-k-then-"
                    "expand idiom)"
                )
            star = any(
                it.strip() == "*" for it in _split_top_level(head)
            )
            leading = out is None
            if leading:
                # leading WITH (r9 — the Neo4j parameterization idiom:
                # `WITH 'c1' AS target MATCH (c {node: target}) ..`):
                # project the literal items from a one-row seed frame;
                # the aliases enter the scope as CALL-style scalars, so
                # a following MATCH cross-joins against the broadcast
                # one-row frame instead of hitting the cartesian
                # refusal — same shape as the CALL threshold idiom.
                out = cg.graph.vertices.sparkSession.range(1).select()
            out, waliases = project(out, head, node_vars, edge_vars)
            if dm:
                out = out.distinct()
            # a star stage carries the whole scope: edge vars stay
            # addressable (their property columns were passed through);
            # node_vars = the stage aliases either way
            node_vars = set(waliases)
            if leading:
                call_vars |= set(waliases)
            if not star:
                edge_vars = set()
            # apply the trailing clauses in their textual order (WHERE
            # filters the projected rows; ORDER BY + SKIP/LIMIT is the
            # aggregate-then-top-k-then-expand idiom — Spark plans
            # orderBy+limit as TakeOrdered, no global sort survives)
            for op_kw, op_text in stage_ops:
                if op_kw == "WHERE":
                    out = apply_where(out, op_text, node_vars, edge_vars)
                elif op_kw == "ORDER BY":
                    keep = None
                    if _COUNT_SUBQ.search(_blank_quotes(op_text)):
                        # count { .. } sort key in a WITH stage (r9,
                        # same lowering as the RETURN tail): join the
                        # pre-aggregate onto the projected stage frame,
                        # sort, then drop the helper column — the
                        # stage's mandatory SKIP/LIMIT keeps the pair a
                        # TakeOrdered shape
                        keep = list(out.columns)
                        out, op_text = lower_count_subqs(
                            out, op_text, node_vars, edge_vars
                        )
                    ocols = []
                    for oi in _split_top_level(op_text):
                        om = re.match(
                            r"^(.*?)(\s+(?:ASC|DESC))?\s*$",
                            oi,
                            re.IGNORECASE | re.DOTALL,
                        )
                        raw = om.group(1).strip()
                        direction = (om.group(2) or "").strip().upper()
                        sql = (
                            raw
                            if raw in node_vars
                            else _rewrite(raw, node_vars, edge_vars, path_vars)
                        )
                        col = F.expr(sql)
                        ocols.append(
                            col.desc() if direction == "DESC" else col.asc()
                        )
                    out = out.orderBy(*ocols)
                    if keep is not None:
                        out = out.select(*keep)
                elif op_kw in ("SKIP", "LIMIT"):
                    if not re.fullmatch(r"\d+", op_text):
                        raise ValueError(
                            f"cypher: {op_kw} in a WITH stage takes an "
                            f"integer literal, got {op_text!r}"
                        )
                    out = (
                        out.offset(int(op_text))
                        if op_kw == "SKIP"
                        else out.limit(int(op_text))
                    )

    ret_body = clauses[-1][1]
    m = _TAIL.match(_blank_quotes(ret_body))
    if not m:
        raise ValueError("cypher: cannot parse RETURN clause")
    out, ret_aliases = project(
        out, _gslice(m, ret_body, "ret"), node_vars, edge_vars
    )

    if m.group("distinct"):
        out = out.distinct()
    order_body = _gslice(m, ret_body, "order")
    if order_body:
        helper_drop = False
        if _COUNT_SUBQ.search(_blank_quotes(order_body)):
            # count { .. } as a sort key (r9 — refusal lifted): the
            # pre-aggregate machinery runs against the PROJECTED frame
            # (the subpattern must share a variable with a returned
            # alias), joins the per-key count on, and the helper
            # column is projected away after the sort — Spark keeps
            # sort order through a project, and with LIMIT the pair
            # still plans as TakeOrdered.
            out, order_body = lower_count_subqs(
                out, order_body, set(ret_aliases), set()
            )
            helper_drop = True
        order_items = _split_top_level(order_body)
        cols = []
        aliases = set(ret_aliases)
        for oi in order_items:
            om = re.match(r"^(.*?)(\s+(?:ASC|DESC))?\s*$", oi, re.IGNORECASE | re.DOTALL)
            raw = om.group(1).strip()
            direction = (om.group(2) or "").strip().upper()
            sql = raw if raw in aliases else _rewrite(raw, node_vars, edge_vars, path_vars)
            col = F.expr(sql)
            cols.append(col.desc() if direction == "DESC" else col.asc())
        out = out.orderBy(*cols)
        if helper_drop:
            out = out.select(*ret_aliases)
    if m.group("skip"):
        out = out.offset(int(m.group("skip")))
    if m.group("limit"):
        out = out.limit(int(m.group("limit")))
    return out
