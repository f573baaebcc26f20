"""GraphQL request parsing + execution against the document read
algebra.

Parity: the reference serves a generated GraphQL schema per database
(class frames → object types, filter inputs, Query root — see
``documents.graphql_schema``) and answers GraphQL queries over HTTP.
This module closes the request side: a recursive-descent parser for
the query-document subset that schema exposes —

    query {
      Customer(filter: {c_acctbal: {gt: 1000}, _or: [...]},
               orderBy: {c_acctbal: DESC}, limit: 10, offset: 5) {
        c_custkey
        c_name
      }
    }

— compiled onto :func:`terminus_server_spark.docs.documents.
query_documents`.  Parsing is driver-side compile work on a
kilobyte-sized string; the data plane is exactly the read algebra's
plan (one filtered scan, TakeOrderedAndProject for orderBy+limit), so
query cost is unchanged by the wire format.

Grammar subset (the shapes the generated schema admits):
- one operation, optional ``query`` keyword, one or more root fields;
- root field = class name with optional (id / ids / filter / orderBy /
  limit / offset) arguments and a flat selection set of scalar fields;
- filter object: per-field operator maps ``{field: {op: value}}``
  with op in eq/ne/gt/ge/lt/le/like/regex/in, plus ``_and``/``_or``
  (lists) and ``_not`` combinators, arbitrarily nested;
- orderBy: object ``{field: ASC|DESC}`` or list of such;
- values: Int, Float, String, Boolean, enum tokens, lists.
"""

from __future__ import annotations

import re

_TOKEN = re.compile(
    r"""\s*(?:
        (?P<str>"(?:[^"\\]|\\.)*")
      | (?P<num>-?\d+(?:\.\d+)?)
      | (?P<name>[_A-Za-z][_0-9A-Za-z]*)
      | (?P<punct>\.\.\.|[{}()\[\]:,$=!@])
    )""",
    re.VERBOSE,
)


def _tokenize(src: str) -> list[tuple[str, str]]:
    out, pos = [], 0
    while pos < len(src):
        m = _TOKEN.match(src, pos)
        if m is None:
            if src[pos:].strip() == "":
                break
            raise ValueError(f"graphql: bad character at {pos}: {src[pos:pos+20]!r}")
        pos = m.end()
        for kind in ("str", "num", "name", "punct"):
            tok = m.group(kind)
            if tok is not None:
                out.append((kind, tok))
                break
    return out


def _split_fragments(tokens: list[tuple[str, str]]):
    """(operation_tokens, {name: (type_condition, selection_tokens)}):
    split a GraphQL DOCUMENT into its operation and its top-level
    ``fragment Name on Type { ... }`` definitions (spec: fragments
    are document-level siblings of the operation, any order).  The
    fragment bodies stay as raw token slices — spreads expand them
    lazily at parse time, so a fragment may reference one defined
    later in the document.  Only depth-0 ``fragment`` keywords are
    definitions; a field named ``fragment`` inside a selection set
    stays a field."""
    ops, frags, i, depth = [], {}, 0, 0
    while i < len(tokens):
        kind, tok = tokens[i]
        if (
            depth == 0
            and kind == "name"
            and tok == "fragment"
            and i + 3 < len(tokens)
            and tokens[i + 1][0] == "name"
            and tokens[i + 2] == ("name", "on")
            and tokens[i + 3][0] == "name"
        ):
            name, cond = tokens[i + 1][1], tokens[i + 3][1]
            j = i + 4
            if j >= len(tokens) or tokens[j][1] != "{":
                raise ValueError(
                    f"graphql: fragment {name!r} needs a selection set"
                )
            d = 0
            k = j
            while k < len(tokens):
                if tokens[k][1] == "{":
                    d += 1
                elif tokens[k][1] == "}":
                    d -= 1
                    if d == 0:
                        break
                k += 1
            if d != 0:
                raise ValueError(
                    f"graphql: unbalanced braces in fragment {name!r}"
                )
            if name in frags:
                raise ValueError(f"graphql: duplicate fragment {name!r}")
            frags[name] = (cond, tokens[j : k + 1])
            i = k + 1
            continue
        if tok == "{":
            depth += 1
        elif tok == "}":
            depth -= 1
        ops.append(tokens[i])
        i += 1
    return ops, frags


class _Parser:
    def __init__(
        self,
        tokens: list[tuple[str, str]],
        variables: dict | None = None,
        fragments: dict | None = None,
        _expanding: set | None = None,
    ):
        self.toks = tokens
        self.i = 0
        # copy: declared defaults must not leak into the caller's
        # dict (stale defaults would shadow later requests' values)
        self.vars = dict(variables) if variables else {}
        self.frags = fragments if fragments is not None else {}
        # spread-expansion stack shared across sub-parsers: a
        # fragment spreading itself (directly or via a chain) is a
        # spec error, not an infinite loop
        self.expanding = _expanding if _expanding is not None else set()

    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else ("eof", "")

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    def expect(self, value: str):
        kind, tok = self.next()
        if tok != value:
            raise ValueError(f"graphql: expected {value!r}, got {tok!r}")

    def value(self):
        kind, tok = self.next()
        if kind == "str":
            # JSON-compatible escapes
            body = tok[1:-1]
            return re.sub(
                r"\\(.)",
                lambda m: {"n": "\n", "t": "\t", "r": "\r"}.get(m.group(1), m.group(1)),
                body,
            )
        if kind == "num":
            return float(tok) if "." in tok else int(tok)
        if kind == "name":
            if tok == "true":
                return True
            if tok == "false":
                return False
            if tok == "null":
                return None
            return tok  # enum token (ASC/DESC)
        if tok == "$":
            _, vname = self.next()
            if vname not in self.vars:
                raise ValueError(f"graphql: undefined variable ${vname}")
            return self.vars[vname]
        if tok == "[":
            items = []
            while self.peek()[1] != "]":
                items.append(self.value())
                if self.peek()[1] == ",":
                    self.next()
            self.expect("]")
            return items
        if tok == "{":
            obj = {}
            while self.peek()[1] != "}":
                _, key = self.next()
                self.expect(":")
                obj[key] = self.value()
                if self.peek()[1] == ",":
                    self.next()
            self.expect("}")
            return obj
        raise ValueError(f"graphql: unexpected token {tok!r} in value")

    def arguments(self) -> dict:
        args = {}
        if self.peek()[1] != "(":
            return args
        self.expect("(")
        while self.peek()[1] != ")":
            _, key = self.next()
            self.expect(":")
            args[key] = self.value()
            if self.peek()[1] == ",":
                self.next()
        self.expect(")")
        return args

    def _directives(self) -> bool:
        """Parse the executable directives after a field / spread /
        inline fragment and return whether the selection is KEPT:
        ``@include(if:)`` and ``@skip(if:)`` — the two directives the
        GraphQL spec requires every implementation to support —
        evaluate at parse time (their arguments are booleans or
        variables, both already resolved here), so a skipped field
        never reaches compilation at all.  Multiple directives AND
        together per the spec (include all true, no skip true).
        Unknown directives raise — silently ignoring one would
        change result shape."""
        keep = True
        while self.peek()[1] == "@":
            self.next()
            kind, name = self.next()
            if kind != "name":
                raise ValueError(
                    f"graphql: expected directive name, got {name!r}"
                )
            args = self.arguments()
            if name == "include":
                keep = keep and bool(args.get("if"))
            elif name == "skip":
                keep = keep and not bool(args.get("if"))
            else:
                raise ValueError(f"graphql: unknown directive @{name}")
        return keep

    def selection_set(self) -> list:
        """Scalar fields come back as strings; nested related-field
        selections as {"name", "args", "fields"} dicts (one level of
        GraphQL's recursive grammar per call — arbitrary depth falls
        out of the recursion)."""
        self.expect("{")
        fields = []
        while self.peek()[1] != "}":
            kind, tok = self.next()
            if tok == "...":
                # fragment spread (...Name), inline fragment
                # (... on Type { }), or bare inline (... { }) — all
                # become {"frag", "on", "fields"} markers, resolved
                # against the level's class at execution
                # (_flatten_selection), where type conditions can be
                # checked including subclass subsumption
                nk, nt = self.peek()
                if nt == "on":
                    self.next()
                    ck, cond = self.next()
                    if ck != "name":
                        raise ValueError(
                            f"graphql: expected type condition, got {cond!r}"
                        )
                    keep = self._directives()
                    node = {"frag": True, "on": cond,
                            "fields": self.selection_set()}
                    if keep:
                        fields.append(node)
                elif nt == "{" or nt == "@":
                    keep = self._directives()
                    node = {"frag": True, "on": None,
                            "fields": self.selection_set()}
                    if keep:
                        fields.append(node)
                elif nk == "name":
                    self.next()
                    if nt not in self.frags:
                        raise ValueError(
                            f"graphql: undefined fragment {nt!r}"
                        )
                    if nt in self.expanding:
                        raise ValueError(
                            f"graphql: fragment cycle through {nt!r}"
                        )
                    keep = self._directives()
                    cond, body = self.frags[nt]
                    self.expanding.add(nt)
                    try:
                        sub = _Parser(
                            body, self.vars, self.frags, self.expanding
                        ).selection_set()
                    finally:
                        self.expanding.discard(nt)
                    if keep:
                        fields.append(
                            {"frag": True, "on": cond, "fields": sub}
                        )
                else:
                    raise ValueError(
                        f"graphql: expected fragment name or 'on' after "
                        f"'...', got {nt!r}"
                    )
                if self.peek()[1] == ",":
                    self.next()
                continue
            if kind != "name":
                raise ValueError(f"graphql: expected field name, got {tok!r}")
            args = self.arguments()
            keep = self._directives()
            if args or self.peek()[1] == "{":
                sub = self.selection_set()
                node: object = {"name": tok, "args": args, "fields": sub}
            else:
                node = tok
            if keep:
                fields.append(node)
            if self.peek()[1] == ",":
                self.next()
        self.expect("}")
        return fields

    def operation(self) -> tuple[str, dict]:
        """(op_type, roots): op_type is ``query`` or ``mutation``.
        Mutation roots carry no selection set requirement — a bare
        root (args only) is legal, matching the wire shape of the
        reference's mutation fields."""
        op = "query"
        if self.peek()[0] == "name" and self.peek()[1] in ("query", "mutation"):
            op = self.next()[1]
            # variable declarations: query($x: Float, $y: Int = 3) —
            # names/types are documentation here (values arrive via the
            # ``variables`` dict, GraphQL's transport convention);
            # declared defaults fill absent variables
            if self.peek()[1] == "(":
                self.next()
                while self.peek()[1] != ")":
                    self.expect("$")
                    _, vname = self.next()
                    self.expect(":")
                    # type expression: Name / Name! / [Name] / [Name!]!
                    if self.peek()[1] == "[":
                        self.next()
                        self.next()  # inner type name
                        if self.peek()[1] == "!":
                            self.next()
                        self.expect("]")
                    else:
                        self.next()  # type name
                    if self.peek()[1] == "!":
                        self.next()
                    if self.peek()[1] == "=":
                        self.next()
                        default = self.value()
                        self.vars.setdefault(vname, default)
                    if self.peek()[1] == ",":
                        self.next()
                self.expect(")")
        self.expect("{")
        roots = []
        while self.peek()[1] != "}":
            kind, cls = self.next()
            if kind != "name":
                raise ValueError(f"graphql: expected class name, got {cls!r}")
            alias = None
            if self.peek()[1] == ":":
                # root alias: result keyed by the alias, query runs
                # against the class named after the colon
                self.next()
                kind2, real = self.next()
                if kind2 != "name":
                    raise ValueError(f"graphql: expected class after alias {cls!r}")
                alias, cls = cls, real
            args = self.arguments()
            keep = self._directives()
            fields = self.selection_set() if self.peek()[1] == "{" else []
            if keep:
                roots.append(
                    (cls, {"args": args, "fields": fields, "alias": alias})
                )
        self.expect("}")
        return op, roots

def parse_graphql(src: str, variables: dict | None = None) -> dict:
    """GraphQL query string → {class-or-alias: {args, fields}}
    request dict.  ``variables`` supplies $var values (the wire
    convention: the query text stays constant and cacheable, values
    travel separately)."""
    toks, frags = _split_fragments(_tokenize(src))
    op, roots = _Parser(toks, variables, frags).operation()
    if op != "query":
        raise ValueError(f"graphql: expected a query operation, got {op!r}")
    out = {}
    for cls, req in roots:
        if not req["fields"]:
            raise ValueError(f"graphql: query root {cls!r} needs a selection set")
        key = req.get("alias") or cls
        out[key] = {**req, "class": cls}
    return out


def parse_graphql_operation(src: str, variables: dict | None = None) -> tuple[str, list]:
    """GraphQL source → (op_type, [(root_name, {args, fields})...]);
    keeps root order (mutations apply in request order)."""
    toks, frags = _split_fragments(_tokenize(src))
    return _Parser(toks, variables, frags).operation()


def _flatten_selection(fields, cls, inherits=None, relations=None):
    """Resolve fragment markers against the level's class: a spread
    or inline fragment contributes its fields when its type condition
    is absent, equals ``cls``, or names a (transitive) SUPERCLASS of
    ``cls`` per the optional ``inherits`` map ({class: [parents]}) —
    the GraphQL rule that a fragment on an interface/supertype
    applies to concrete subtypes.  A non-matching condition
    contributes nothing (that is the POINT of inline fragments: class
    -conditional selection).  Dict fields whose name is a connection
    pseudo-field (edges/node/pageInfo, when not a registered
    relation) keep the SAME class context, so fragments inside a
    Relay wrapper resolve here too; relation fields resolve at their
    own level's recursion."""
    ancestors = set()
    if inherits:
        stack = list(inherits.get(cls, []))
        while stack:
            a = stack.pop()
            if a not in ancestors:
                ancestors.add(a)
                stack.extend(inherits.get(a, []))
    out = []
    for f in fields:
        if isinstance(f, dict) and f.get("frag"):
            on = f.get("on")
            if on is None or on == cls or on in ancestors:
                out.extend(
                    _flatten_selection(f["fields"], cls, inherits, relations)
                )
        elif (
            isinstance(f, dict)
            and f.get("name") in ("edges", "node", "pageInfo")
            and (relations is None or (cls, f["name"]) not in relations)
        ):
            out.append(
                {**f, "fields": _flatten_selection(
                    f["fields"], cls, inherits, relations)}
            )
        else:
            out.append(f)
    return out


_OPS = ("eq", "ne", "gt", "ge", "lt", "le", "like", "regex", "in")


def filter_to_tree(obj: dict):
    """GraphQL filter object → ``compile_filter`` combinator tree."""
    parts = []
    for key, val in obj.items():
        if key == "_and":
            parts.append(("and", [filter_to_tree(v) for v in val]))
        elif key == "_or":
            parts.append(("or", [filter_to_tree(v) for v in val]))
        elif key == "_not":
            parts.append(("not", filter_to_tree(val)))
        else:
            if not isinstance(val, dict):
                raise ValueError(f"graphql: field filter for {key} must be an object")
            for op, v in val.items():
                if op not in _OPS:
                    raise ValueError(f"graphql: unknown filter op {op!r}")
                parts.append((key, op, v))
    if not parts:
        raise ValueError("graphql: empty filter object")
    if len(parts) == 1:
        return parts[0]
    return ("and", parts)


def _query_level(frames, relations, cls, args, fields, id_cols=None,
                 inherits=None):
    from pyspark.sql import functions as F

    from terminus_server_spark.docs.documents import filter_documents, query_documents

    # fragment spreads / inline fragments resolve against THIS level's
    # class (type conditions may subsume via the inherits map); every
    # consumer below sees only plain scalar strings and relation dicts
    fields = _flatten_selection(fields, cls, inherits, relations)
    predicates = []
    if "filter" in args:
        predicates = [filter_to_tree(args["filter"])]
    # id / ids query arguments (reference: every generated query type
    # accepts them): compile to an `in` predicate on the class's
    # registered id column, so the filter pushes to the scan and
    # composes with filter/orderBy/limit/offset like any predicate.
    if "id" in args or "ids" in args:
        key_col = (id_cols or {}).get(cls)
        if key_col is None:
            raise ValueError(
                f"graphql: id/ids argument needs an id column registered "
                f"for {cls} (pass id_cols={{...}})"
            )
        # each argument contributes its own predicate, so giving both
        # id and ids means their intersection (AND), like any filters
        if "id" in args:
            predicates.append((key_col, "in", [args["id"]]))
        if "ids" in args:
            predicates.append((key_col, "in", list(args["ids"])))
    # Relay-style cursor pagination (first/after): KEYSET paging over
    # the registered id column.  `after` compiles to a pushed-down
    # `>` predicate — the scan skips the cursor prefix instead of
    # materializing and discarding it (what offset does, and why
    # cursor beats offset at depth) — and `first` is the page size;
    # results order by the id column so pages are stable.  The cursor
    # is the id value itself (Relay treats cursors as opaque; this
    # schema documents them as the document key).
    limit_val, offset_val = args.get("limit"), args.get("offset")
    order_by = None
    # `_pageInfo` pseudo-field (Relay connection metadata on a
    # cursor-paged root): renders one JSON column
    # {"endCursor": <last key>, "hasNextPage": bool} — hasNextPage
    # comes from a first+1 probe row, so no COUNT over the full
    # match set; the page-sized key fetch is a bounded driver read
    # (≤ first+1 rows), the same class as the adjudicated metadata
    # collects.
    # the Relay connection wrapper (edges { node cursor } pageInfo)
    # also needs the first+1 probe when its pageInfo member is
    # selected — a relation registered under the name "pageInfo"
    # takes precedence (it compiles as an ordinary nested field)
    want_pi = "_pageInfo" in [f for f in fields if isinstance(f, str)] or any(
        isinstance(f, dict)
        and f["name"] == "pageInfo"
        and (cls, "pageInfo") not in relations
        for f in fields
    )
    cursor_key = None
    backward = False
    fwd_args = "first" in args or "after" in args
    bwd_args = "last" in args or "before" in args
    if fwd_args and bwd_args:
        raise ValueError(
            "graphql: forward (first/after) and backward (last/before) "
            "cursor args do not combine — pick one paging direction"
        )
    if fwd_args or bwd_args:
        key_col = (id_cols or {}).get(cls)
        if key_col is None:
            raise ValueError(
                f"graphql: cursor args (first/after/last/before) need an "
                f"id column registered for {cls} (pass id_cols={{...}})"
            )
        if any(k in args for k in ("orderBy", "limit", "offset")):
            raise ValueError(
                "graphql: cursor args (first/after/last/before) do not "
                "combine with orderBy/limit/offset — pick one paging style"
            )
        backward = bwd_args
        # predicates WITHOUT the cursor bound — the opposite-direction
        # pageInfo existence probe filters the same connection set
        # under the reversed bound
        cursor_base_preds = list(predicates)
        if "after" in args:
            predicates.append((key_col, "gt", args["after"]))
        if "before" in args:
            predicates.append((key_col, "lt", args["before"]))
        # backward paging walks the connection tail-first: the keyset
        # `<` predicate pushes to the scan exactly like `after`'s `>`,
        # the page is the `last` LARGEST keys under the bound (desc
        # order + limit), and the rendered page is re-ordered ascending
        # afterwards per the Relay spec ("edges must be in the same
        # order in both directions") — a sort over <= last+1 rows.
        order_by = [(key_col, "desc" if backward else "asc")]
        limit_val = args.get("last") if backward else args.get("first")
        cursor_key = key_col
    elif "orderBy" in args:
        ob = args["orderBy"]
        items = ob if isinstance(ob, list) else [ob]
        order_by = [
            (field, "asc" if str(direction).upper() == "ASC" else "desc")
            for item in items
            for field, direction in item.items()
        ]
    if want_pi and (cursor_key is None or limit_val is None):
        raise ValueError(
            "graphql: _pageInfo requires cursor paging (first or last, and "
            "an id column registered for the class)"
        )
    df = query_documents(
        frames[cls],
        predicates=predicates,
        order_by=order_by,
        limit=(limit_val + 1) if want_pi else limit_val,
        offset=offset_val,
    )
    if want_pi:
        from pyspark.sql import Window as _W

        # pageInfo derived LAZILY inside the one plan: the n+1
        # keyset page flows through a window bounded by the page size
        # (never a COUNT over the full frame, never a driver-side
        # collect — the returned rows and endCursor/hasNextPage come
        # from the SAME computed page, so they can never disagree)
        first = int(limit_val)
        w_rn = _W.orderBy(
            F.col(cursor_key).desc() if backward else F.col(cursor_key).asc()
        )
        w_all = w_rn.rowsBetween(
            _W.unboundedPreceding, _W.unboundedFollowing
        )
        page = df.limit(first + 1).withColumn(
            "_rn", F.row_number().over(w_rn)
        )
        kept = F.col("_rn") <= first
        # the probe row answers the paging DIRECTION's own question
        # (forward: hasNextPage, backward: hasPreviousPage); the
        # opposite flag is exact too — a bounded LIMIT-1 existence
        # probe over the same filtered frame under the REVERSED keyset
        # bound (broadcast into the page plan), so a cursor that
        # precedes/follows every row reports false, not "a cursor was
        # supplied".  No cursor bound at all means no opposite rows by
        # construction.
        bound = args.get("before") if backward else args.get("after")
        df = page.withColumn("_cnt", F.count(F.lit(1)).over(w_all))
        if bound is None:
            opp = F.lit(False)
        else:
            probe = (
                query_documents(
                    frames[cls],
                    predicates=cursor_base_preds
                    + [(cursor_key, "ge" if backward else "le", bound)],
                    limit=1,
                )
                .select(F.lit(1).alias("_one"))
                .agg((F.count(F.lit(1)) > 0).alias("_opp"))
            )
            df = df.crossJoin(F.broadcast(probe))
            opp = F.col("_opp")
        has_next = opp if backward else (F.col("_cnt") > first)
        has_prev = (F.col("_cnt") > first) if backward else opp
        df = (
            # endCursor/startCursor aggregate the NATIVE-typed key and
            # cast to string only afterwards — a lexicographic max over
            # stringified numeric keys returns "99" for a page spanning
            # 95..105.  min/max over the kept rows is direction-free:
            # the page is a contiguous key range either way.
            df.withColumn(
                "_end",
                F.max(F.when(kept, F.col(cursor_key)))
                .over(w_all)
                .cast("string"),
            )
            .withColumn(
                "_start",
                F.min(F.when(kept, F.col(cursor_key)))
                .over(w_all)
                .cast("string"),
            )
            .where(kept)
            .withColumn(
                "_pageInfo",
                F.to_json(
                    F.struct(
                        F.col("_end").alias("endCursor"),
                        has_next.alias("hasNextPage"),
                    )
                ),
            )
            # the full Relay pageInfo member set, for connection
            # pageInfo SUB-selections — all four members exact in both
            # paging directions
            .withColumn(
                "_pageInfoFull",
                F.to_json(
                    F.struct(
                        F.col("_end").alias("endCursor"),
                        has_next.alias("hasNextPage"),
                        has_prev.alias("hasPreviousPage"),
                        F.col("_start").alias("startCursor"),
                    )
                ),
            )
            .drop("_rn", "_cnt", "_end", "_start", "_opp")
        )
    if backward:
        # Relay spec: edges render in the SAME order as forward paging
        # — re-order the <= last+1 rendered rows ascending
        df = df.orderBy(F.col(cursor_key).asc())
    nested = [f for f in fields if isinstance(f, dict)]
    # Relay CONNECTION wrapper: a cursor-paged root selecting
    # edges { node { ... } cursor } / pageInfo { ... } renders one
    # row per edge — `edges` is the JSON {"node": {...}, "cursor":
    # "<key>"} object, `pageInfo` reuses the probe JSON.  Node
    # selections are scalar fields (nested relations belong on the
    # plain root shape); mixing connection members with other
    # selections raises instead of guessing.
    conn = [
        f
        for f in nested
        if f["name"] in ("edges", "pageInfo")
        and (cls, f["name"]) not in relations
    ]
    if conn:
        if len(conn) != len(nested) or [
            f for f in fields if isinstance(f, str)
        ]:
            raise ValueError(
                "graphql: connection selections (edges/pageInfo) do not mix "
                "with other fields"
            )
        if cursor_key is None:
            raise ValueError(
                "graphql: connection selections require cursor paging "
                "(first/after and a registered id column)"
            )
        edges_spec = next((f for f in conn if f["name"] == "edges"), None)
        out = df
        if edges_spec is not None:
            node_spec = next(
                (
                    f
                    for f in edges_spec["fields"]
                    if isinstance(f, dict) and f["name"] == "node"
                ),
                None,
            )
            if node_spec is None:
                raise ValueError("graphql: edges selection needs a node set")
            bad = [f for f in node_spec["fields"] if not isinstance(f, str)]
            if bad:
                raise ValueError(
                    "graphql: connection node selections are scalar-only"
                )
            members = [
                F.struct(
                    *[F.col(c) for c in node_spec["fields"]]
                ).alias("node")
            ]
            if "cursor" in [
                f for f in edges_spec["fields"] if isinstance(f, str)
            ]:
                members.append(
                    F.col(cursor_key).cast("string").alias("cursor")
                )
            out = out.withColumn("edges", F.to_json(F.struct(*members)))
        pi_spec = next((f for f in conn if f["name"] == "pageInfo"), None)
        if pi_spec is not None:
            members = ("endCursor", "hasNextPage", "hasPreviousPage",
                       "startCursor")
            picked = [s for s in pi_spec.get("fields") or []
                      if isinstance(s, str)]
            bad = [s for s in picked if s not in members]
            if bad:
                raise ValueError(
                    f"graphql: unknown pageInfo members {bad!r}"
                )
            if not picked or sorted(picked) == ["endCursor", "hasNextPage"]:
                # legacy two-member shape, byte-stable
                out = out.withColumn("pageInfo", F.col("_pageInfo"))
            else:
                # render the SELECTED members in canonical
                # (name-sorted) order from the full member set
                full = F.from_json(
                    F.col("_pageInfoFull"),
                    "struct<endCursor:string,hasNextPage:boolean,"
                    "hasPreviousPage:boolean,startCursor:string>",
                )
                out = out.withColumn(
                    "pageInfo",
                    F.to_json(
                        F.struct(
                            *[full[m].alias(m) for m in members
                              if m in set(picked)]
                        )
                    ),
                )
        return out
    out = df
    # `__typename` (GraphQL spec meta-field, valid on ANY selection
    # set — Apollo-family clients add it to every query for cache
    # normalization): a constant projection of the class name,
    # available at any nesting depth like _id below
    if "__typename" in [f for f in fields if isinstance(f, str)]:
        out = out.withColumn("__typename", F.lit(cls))
    # the generated schema's `_id: ID!` field: document identifier
    # rendered `<Class>/<key>` from the registered id column — a pure
    # projection, available at any nesting depth (child levels pass
    # through this same function)
    if "_id" in [f for f in fields if isinstance(f, str)]:
        key_col = (id_cols or {}).get(cls)
        if key_col is None:
            raise ValueError(
                f"graphql: the _id field needs an id column registered "
                f"for {cls} (pass id_cols={{...}})"
            )
        out = out.withColumn(
            "_id", F.concat(F.lit(cls + "/"), F.col(key_col).cast("string"))
        )
    # aggregation-field sugar over registered relations: a SCALAR
    # selection named <rel>_count / <rel>_sum_<col> compiles to one
    # child aggregation joined back on the parent key — the wire-level
    # form of the read-algebra aggregates (documents.related_agg /
    # doc_related_count), so tooling can ask for rollups without a
    # nested selection set.  Absent children count 0 / sum 0.0.
    for name in [f for f in fields if isinstance(f, str)]:
        for (c, rel), spec in relations.items():
            child_cls, parent_key, child_fk = spec[:3]
            if c != cls:
                continue
            if name == f"{rel}_count":
                a = frames[child_cls].groupBy(
                    F.col(child_fk).alias(parent_key)
                ).agg(F.count(F.lit(1)).alias(name))
                out = out.join(a, parent_key, "left_outer").withColumn(
                    name, F.coalesce(F.col(name), F.lit(0))
                )
            elif name.startswith(f"{rel}_sum_"):
                agg_col = name[len(rel) + 5 :]
                a = frames[child_cls].groupBy(
                    F.col(child_fk).alias(parent_key)
                ).agg(
                    F.sum(F.col(agg_col).cast("decimal(28,6)"))
                    .cast("double")
                    .alias(name)
                )
                out = out.join(a, parent_key, "left_outer").withColumn(
                    name, F.coalesce(F.col(name), F.lit(0.0))
                )
    for sub in nested:
        rel = relations.get((cls, sub["name"]))
        if rel is None:
            raise ValueError(
                f"graphql: no relation registered for {cls}.{sub['name']}"
            )
        if len(rel) > 3 and rel[3] == "one":
            # TO-ONE link field (the reference's document link: the fk
            # lives on the PARENT and points at the child's key, so
            # each parent renders ONE nested JSON object, not a list).
            # Per-parent paging args are meaningless on a single
            # object — surface the error instead of mis-compiling.
            if any(k in sub["args"] for k in ("orderBy", "limit", "offset")):
                raise ValueError(
                    f"graphql: orderBy/limit/offset invalid on to-one "
                    f"field {cls}.{sub['name']}"
                )
            child_cls, parent_key, child_fk = rel[:3]
            child = _query_level(
                frames, relations, child_cls, sub["args"], sub["fields"],
                id_cols=id_cols, inherits=inherits,
            )
            flat_sub = _flatten_selection(
                sub["fields"], child_cls, inherits, relations
            )
            names = [f if isinstance(f, str) else f["name"] for f in flat_sub]
            # To-one PRECONDITION: the child key is unique.  A plain
            # left join would silently FAN OUT parent rows if the
            # child frame violated it; aggregate to one row per key
            # (deterministic min over the rendered JSON) so the
            # parent cardinality is invariant by construction and a
            # duplicate-key child resolves deterministically instead
            # of duplicating parents.
            obj = (
                child.select(
                    F.col(child_fk).alias(parent_key),
                    F.to_json(
                        F.struct(*[F.col(c) for c in names])
                    ).alias(sub["name"]),
                )
                .groupBy(parent_key)
                .agg(F.min(sub["name"]).alias(sub["name"]))
            )
            out = out.join(obj, parent_key, "left_outer").withColumn(
                sub["name"], F.coalesce(F.col(sub["name"]), F.lit("null"))
            )
            continue
        child_cls, parent_key, child_fk = rel
        # orderBy/limit/offset on a nested field are PER-PARENT
        # semantics — strip them before recursing (a global limit in
        # query_documents would be wrong) and apply them here as one
        # row_number window partitioned by the fk, never a per-parent
        # subquery.
        cursor_fwd = any(k in sub["args"] for k in ("first", "after"))
        cursor_bwd = any(k in sub["args"] for k in ("last", "before"))
        if cursor_fwd and cursor_bwd:
            raise ValueError(
                "graphql: forward (first/after) and backward (last/before) "
                "cursor args do not combine — pick one paging direction"
            )
        cursor = cursor_fwd or cursor_bwd
        paged = cursor or any(
            k in sub["args"] for k in ("orderBy", "limit", "offset")
        )
        child_args = {
            k: v
            for k, v in sub["args"].items()
            if k
            not in ("orderBy", "limit", "offset", "first", "after", "last",
                    "before")
        }
        # the child frame keeps its full columns (incl. the fk) —
        # projection happens only at the JSON rendering below
        child = _query_level(
            frames, relations, child_cls, child_args, sub["fields"],
            id_cols=id_cols, inherits=inherits,
        )
        flat_sub = _flatten_selection(
            sub["fields"], child_cls, inherits, relations
        )
        sub_names = [f if isinstance(f, str) else f["name"] for f in flat_sub]
        if paged:
            from pyspark.sql.window import Window

            if cursor:
                # per-parent Relay cursor paging: the `after` bound is
                # a MAP-SIDE keyset predicate applied before the
                # window (pushes to the child scan — rows before the
                # cursor are never ranked, which is what makes cursor
                # cheaper than offset at depth), then the same
                # row_number-over-fk window caps each parent's page
                # at `first`, ordered by the child's id column.
                ckey = (id_cols or {}).get(child_cls)
                if ckey is None:
                    raise ValueError(
                        f"graphql: cursor args (first/after/last/before) "
                        f"need an id column registered for {child_cls} "
                        f"(pass id_cols={{...}})"
                    )
                if any(
                    k in sub["args"] for k in ("orderBy", "limit", "offset")
                ):
                    raise ValueError(
                        "graphql: cursor args (first/after/last/before) do "
                        "not combine with orderBy/limit/offset — pick one "
                        "paging style"
                    )
                if "after" in sub["args"]:
                    child = child.where(F.col(ckey) > F.lit(sub["args"]["after"]))
                if "before" in sub["args"]:
                    child = child.where(F.col(ckey) < F.lit(sub["args"]["before"]))
                # backward nested paging ranks desc to pick each
                # parent's LAST page; the rendered JSON array still
                # sorts ascending by the child key below (Relay order)
                order_cols = (
                    [F.col(ckey).desc()] if cursor_bwd else [F.col(ckey).asc()]
                )
                off, lim = 0, sub["args"].get("last" if cursor_bwd else "first")
            else:
                ob = sub["args"].get("orderBy")
                items = ob if isinstance(ob, list) else ([ob] if ob else [])
                order_cols = [
                    F.col(field).asc()
                    if str(direction).upper() == "ASC"
                    else F.col(field).desc()
                    for item in items
                    for field, direction in item.items()
                ]
                # deterministic tie-break on the selected fields so the
                # page content is partitioning-independent
                order_cols += [F.col(c).asc() for c in sub_names]
                off = int(sub["args"].get("offset", 0))
                lim = sub["args"].get("limit")
            w = Window.partitionBy(child_fk).orderBy(*order_cols)
            keep = F.col("__rn") > F.lit(off)
            if lim is not None:
                keep = keep & (F.col("__rn") <= F.lit(off + int(lim)))
            child = child.withColumn("__rn", F.row_number().over(w)).where(keep)
            # JSON array preserves the per-parent orderBy order: sort
            # the collected structs by rn (first struct field wins the
            # sort), then strip it.  Backward cursor pages ranked desc
            # negate rn so the rendered array still ascends by key
            # (Relay: edges order is direction-independent).
            sort_rn = (
                (-F.col("__rn")) if (cursor and cursor_bwd) else F.col("__rn")
            )
            agg = child.groupBy(F.col(child_fk).alias(parent_key)).agg(
                F.to_json(
                    F.transform(
                        F.sort_array(
                            F.collect_list(
                                F.struct(
                                    sort_rn.alias("rn"),
                                    F.struct(
                                        *[F.col(c) for c in sub_names]
                                    ).alias("v"),
                                )
                            )
                        ),
                        lambda x: x["v"],
                    )
                ).alias(sub["name"])
            )
        else:
            agg = child.groupBy(F.col(child_fk).alias(parent_key)).agg(
                F.to_json(
                    F.sort_array(
                        F.collect_list(F.struct(*[F.col(c) for c in sub_names]))
                    )
                ).alias(sub["name"])
            )
        out = out.join(agg, parent_key, "left_outer").withColumn(
            sub["name"], F.coalesce(F.col(sub["name"]), F.lit("[]"))
        )
    return out


# every field shape the schema document emits (OBJECT name/type/
# nonNull, INPUT_OBJECT name/type/ops, QUERY name/type/args) —
# from_json NULLs the members a kind doesn't carry, and to_json drops
# NULL struct fields again on render, so one permissive schema serves
# all three kinds.
_INTROSPECT_DOC = (
    "struct<name:string,kind:string,description:string,"
    "fields:array<struct<name:string,type:string,nonNull:boolean,"
    "description:string,ops:array<string>,args:array<string>>>,"
    "enumValues:array<struct<name:string,description:string>>>"
)

_TYPE_FIELD_ATTRS = ("name", "type", "nonNull", "description", "ops", "args")


def _type_selection(schema_doc, sel_fields, name=None):
    """Project the generated schema document (type_name, kind, doc)
    by a ``__Type`` selection set: scalar fields ``name``/``kind``
    plus a nested ``fields { ... }`` selection rendered as a JSON
    array (the doc's canonical name-sorted field order preserved)."""
    from pyspark.sql import functions as F

    df = schema_doc
    if name is not None:
        df = df.where(F.col("type_name") == F.lit(name))
    parsed = F.from_json(F.col("doc"), _INTROSPECT_DOC)
    cols = []
    for f in sel_fields:
        if isinstance(f, str):
            if f == "name":
                cols.append(F.col("type_name").alias("name"))
            elif f == "kind":
                cols.append(F.col("kind"))
            elif f == "description":
                # the @documentation @comment carried by the schema
                # document (NULL for undocumented types)
                cols.append(parsed["description"].alias("description"))
            else:
                raise ValueError(f"graphql: unknown __Type field {f!r}")
        elif f["name"] == "fields":
            subs = [s for s in f["fields"] if isinstance(s, str)]
            bad = [s for s in subs if s not in _TYPE_FIELD_ATTRS]
            if bad:
                raise ValueError(f"graphql: unknown __Field attrs {bad}")
            cols.append(
                F.to_json(
                    F.transform(
                        parsed["fields"],
                        lambda x: F.struct(*[x[s].alias(s) for s in subs]),
                    )
                ).alias("fields")
            )
        elif f["name"] == "enumValues":
            # the Relay/introspection __EnumValue selection — name +
            # the @documentation @values description (NULL members
            # drop on render, so undocumented values stay {name})
            subs = [s for s in f["fields"] if isinstance(s, str)]
            bad = [s for s in subs if s not in ("name", "description")]
            if bad:
                raise ValueError(
                    f"graphql: unknown __EnumValue attrs {bad}"
                )
            cols.append(
                F.to_json(
                    F.transform(
                        parsed["enumValues"],
                        lambda x: F.struct(*[x[s].alias(s) for s in subs]),
                    )
                ).alias("enumValues")
            )
        else:
            raise ValueError(
                f"graphql: unknown __Type selection {f['name']!r}"
            )
    return df.select(*cols)


def _introspect(schema_doc, root, args, fields):
    if root == "__type":
        if "name" not in args:
            raise ValueError("graphql: __type requires a name argument")
        return _type_selection(schema_doc, fields, name=args["name"])
    for f in fields:
        if isinstance(f, dict) and f["name"] == "types":
            return _type_selection(schema_doc, f["fields"])
        if isinstance(f, dict) and f["name"] == "queryType":
            return _type_selection(schema_doc, f["fields"], name="Query")
        if isinstance(f, dict) and f["name"] == "mutationType":
            return _type_selection(schema_doc, f["fields"], name="Mutation")
        if isinstance(f, dict) and f["name"] == "directives":
            return _directive_introspection(schema_doc, f["fields"])
    raise ValueError(
        "graphql: __schema selection must include types or queryType"
    )


def _directive_introspection(schema_doc, sel_fields):
    """``__schema { directives { ... } }``: the executable directives
    this implementation supports — exactly the spec-required pair
    ``@include`` / ``@skip`` evaluated by ``_Parser._directives`` —
    served in the introspection shape codegen tooling reads
    (__Directive: name / description / locations / args).  Static by
    construction (the directive set is the parser's, not the
    schema's), rendered as one small DataFrame in the same session
    as the schema document so the result composes with other
    introspection roots."""
    from pyspark.sql import functions as F

    from terminus_server_spark.session import local_frame

    spark = schema_doc.sparkSession
    rows = [
        (
            "include",
            "Directs the executor to include this field or fragment "
            "only when the `if` argument is true.",
            ["FIELD", "FRAGMENT_SPREAD", "INLINE_FRAGMENT"],
            [{"name": "if", "type": "Boolean!"}],
        ),
        (
            "skip",
            "Directs the executor to skip this field or fragment "
            "when the `if` argument is true.",
            ["FIELD", "FRAGMENT_SPREAD", "INLINE_FRAGMENT"],
            [{"name": "if", "type": "Boolean!"}],
        ),
    ]
    df = local_frame(
        spark,
        rows,
        "name string, description string, locations array<string>, "
        "args array<struct<name: string, type: string>>",
    )
    cols = []
    for f in sel_fields:
        if isinstance(f, str) and f in ("name", "description"):
            cols.append(F.col(f))
        elif isinstance(f, str) and f == "locations":
            cols.append(F.to_json(F.col("locations")).alias("locations"))
        elif isinstance(f, dict) and f["name"] == "args":
            subs = [s for s in f["fields"] if isinstance(s, str)]
            bad = [s for s in subs if s not in ("name", "type")]
            if bad:
                raise ValueError(
                    f"graphql: unknown __InputValue attrs {bad}"
                )
            cols.append(
                F.to_json(
                    F.transform(
                        F.col("args"),
                        lambda x: F.struct(*[x[s].alias(s) for s in subs]),
                    )
                ).alias("args")
            )
        else:
            n = f if isinstance(f, str) else f.get("name")
            raise ValueError(
                f"graphql: unknown __Directive selection {n!r}"
            )
    return df.select(*cols)


def _path_query(store, args, fields):
    """Compile a GraphQL ``_path`` root field onto the WOQL path
    compiler (reference: the GraphQL layer's path queries — public
    locus: terminusdb-community graphql crate path fields over the
    same path.pl regex grammar).  Args: ``pattern`` (the textual
    path regex, see ``woql.path_ast.parse_path_string``), optional
    ``from`` / ``to`` node anchors.  Selection fields are the path
    scalars ``src`` / ``dst`` / ``hops``.

    Plan shape: an un-anchored pattern compiles to the generic
    closure (``operators.path.compile_path``); a ``from:``-anchored
    plus/star closure uses ``anchored_closure`` instead — state is
    the anchor's reachable set, never the all-pairs closure filtered
    after the fact, which is the difference between a bounded BFS
    and an O(V²) materialization at 100 TB."""
    from pyspark.sql import functions as F

    from terminus_server_spark.operators.path import anchored_closure, compile_path
    from terminus_server_spark.session import local_frame
    from terminus_server_spark.woql import path_ast as P
    from terminus_server_spark.woql.path_ast import parse_path_string

    if "pattern" not in args:
        raise ValueError("graphql: _path requires a pattern argument")
    pat = parse_path_string(args["pattern"])
    frm = args.get("from")
    if frm is not None and isinstance(pat, (P.Plus, P.Star)):
        spark = store.df.sparkSession
        anchors = local_frame(spark, [(frm,)], "node string")
        df = anchored_closure(
            compile_path(store, pat.part).select("src", "dst"),
            anchors,
            with_zero=isinstance(pat, P.Star),
        )
    else:
        df = compile_path(store, pat)
        if frm is not None:
            df = df.where(F.col("src") == F.lit(frm))
    if "to" in args:
        df = df.where(F.col("dst") == F.lit(args["to"]))
    names = [f if isinstance(f, str) else f["name"] for f in fields]
    bad = [n for n in names if n not in ("src", "dst", "hops")]
    if bad:
        raise ValueError(f"graphql: _path has no fields {bad!r}")
    return df.select(*names)


def execute_graphql(
    frames: dict,
    src: str,
    relations: dict | None = None,
    schema=None,
    store=None,
    variables: dict | None = None,
    id_cols: dict | None = None,
    inherits: dict | None = None,
):
    """Execute a parsed GraphQL request against ``frames`` (class
    name → DataFrame) and return {class: DataFrame}.

    ``relations`` maps (parent_class, field_name) → (child_class,
    parent_key_col, child_fk_col) for nested related-field selection
    sets; a nested field renders as a deterministic JSON array of the
    selected child fields (sorted, so the rendering is
    partitioning-independent).  Compilation only — filters push to
    scans, a nested level is one filtered child aggregation joined
    back on the parent key.

    ``schema``: the generated schema document DataFrame
    (:func:`terminus_server_spark.docs.documents.graphql_schema`
    output).  When provided, ``__schema { types {...} / queryType
    {...} }`` and ``__type(name: ...)`` introspection roots — the
    first thing GraphiQL/codegen tooling sends — are answered from
    it (reference serves the same generated schema over the
    introspection protocol).

    ``store``: a ``TripleStore`` — enables the ``_path`` root field
    (graph path traversal over the store's edges, see
    :func:`_path_query`).

    ``id_cols``: class → id column; enables the generated schema's
    ``id:`` / ``ids: [...]`` query arguments (compiled to an `in`
    predicate pushed to the scan)."""
    relations = relations or {}
    out = {}
    for key, req in parse_graphql(src, variables).items():
        cls = req.get("class", key)
        if cls == "_path":
            if store is None:
                raise ValueError("graphql: _path requires a triple store")
            out[key] = _path_query(store, req["args"], req["fields"])
            continue
        if cls in ("__schema", "__type"):
            if schema is None:
                raise ValueError(
                    "graphql: introspection requires a schema document"
                )
            out[key] = _introspect(schema, cls, req["args"], req["fields"])
            continue
        if cls not in frames:
            raise ValueError(f"graphql: unknown class {cls!r}")
        level = _query_level(
            frames, relations, cls, req["args"], req["fields"],
            id_cols=id_cols, inherits=inherits,
        )
        flat = _flatten_selection(req["fields"], cls, inherits, relations)
        names = [f if isinstance(f, str) else f["name"] for f in flat]
        out[key] = level.select(*names)
    return out


def execute_graphql_mutation(triples, docs: dict, specs: dict, src: str):
    """Execute a GraphQL ``mutation`` request against the document
    store (reference: the GraphQL layer's _insertDocuments /
    _replaceDocuments / _deleteDocuments mutation fields over the
    same document write path as the HTTP document API).

    ``triples``: current instance triples; ``docs``: {class:
    documents DataFrame} (the pre-request state); ``specs``: {class:
    key_col}.  Roots apply IN REQUEST ORDER, each composing a delta
    onto the running triple state; every root's ``filter`` evaluates
    against the PRE-REQUEST document snapshot — the whole request is
    one transaction over one snapshot, the staged-then-commit shape
    of the reference's transaction objects.

    Supported roots:

    - ``_insertDocuments(class:, docs: [{...}...])`` — literal rows
      become typed triples (one map stage; the store is untouched).
    - ``_updateDocuments(class:, filter: {...}, set: {...})`` —
      update-by-filter compiled to a delta layer (field replace).
    - ``_deleteDocuments(class:, filter: {...})`` — whole-document
      retraction of every matching subject (one anti-join).

    Returns ``(new_triples, report)``: the post-mutation triple
    state and a lazy (root, class, n_affected) report frame (one
    aggregate row per root — counting stays distributed)."""
    from pyspark.sql import functions as F

    from terminus_server_spark.docs.documents import (
        delete_documents,
        filter_documents,
        insert_documents,
        update_documents_where,
    )
    from terminus_server_spark.versioning.layers import apply_delta

    op, roots = parse_graphql_operation(src)
    if op != "mutation":
        raise ValueError(f"graphql: expected a mutation operation, got {op!r}")
    reports = []
    cur = triples
    for i, (root, req) in enumerate(roots):
        args = req["args"]
        cls = args.get("class")
        if cls not in specs:
            raise ValueError(f"graphql: unknown class {cls!r} in mutation")
        key_col = specs[cls]
        snapshot = docs[cls]
        spark = snapshot.sparkSession
        if root == "_insertDocuments":
            rows = args.get("docs")
            if not isinstance(rows, list) or not rows:
                raise ValueError("graphql: _insertDocuments needs a docs: list")
            new_docs = spark.createDataFrame(rows)
            cur = insert_documents(cur, new_docs, cls, key_col)
            n = F.lit(len(rows)).cast("bigint")
            report = spark.range(1).select(
                F.lit(root).alias("root"), F.lit(cls).alias("class"), n.alias("n_affected")
            )
        elif root == "_updateDocuments":
            if "filter" not in args or "set" not in args:
                raise ValueError("graphql: _updateDocuments needs filter: and set:")
            preds = [filter_to_tree(args["filter"])]
            delta = update_documents_where(
                cur, snapshot, cls, key_col, preds, args["set"]
            )
            cur = apply_delta(cur, delta)
            report = filter_documents(snapshot, preds).agg(
                F.lit(root).alias("root"),
                F.lit(cls).alias("class"),
                F.count(F.lit(1)).alias("n_affected"),
            )
        elif root == "_deleteDocuments":
            if "filter" not in args:
                raise ValueError("graphql: _deleteDocuments needs a filter:")
            preds = [filter_to_tree(args["filter"])]
            matched = filter_documents(snapshot, preds)
            subjects = matched.select(
                F.concat(
                    F.lit(cls + "/"), F.col(key_col).cast("string")
                ).alias("subject")
            )
            cur = delete_documents(cur, subjects)
            report = matched.agg(
                F.lit(root).alias("root"),
                F.lit(cls).alias("class"),
                F.count(F.lit(1)).alias("n_affected"),
            )
        else:
            raise ValueError(f"graphql: unknown mutation root {root!r}")
        reports.append(report)
    rep = reports[0]
    for r in reports[1:]:
        rep = rep.unionByName(r)
    return cur, rep
