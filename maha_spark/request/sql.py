"""SQL entry point: SQL SELECT over a cube's public aliases -> the
request JSON a ``ReportingRequest`` parses from
(service/.../calcite/MahaCalciteSqlParser.scala:39-380 semantics,
reimplemented without Calcite).

Supported surface — deliberately the same narrow one the reference parses:

    SELECT <alias list | *> FROM <cube>
    [WHERE <conjunction of predicates, OR groups allowed>]
    [GROUP BY ...]            -- ignored: grouping is implicit in the cube
    [HAVING <same predicate grammar over metric aliases>]
    [ORDER BY alias [ASC|DESC], ...]
    [LIMIT n] [OFFSET m]

Aliases may be double-quoted or backtick-quoted ("Nation Name").
Predicates map 1:1 onto the request filter grammar: = <> > < IN NOT-IN
BETWEEN LIKE NOT-LIKE IS-NULL IS-NOT-NULL.  ``SELECT * FROM cube LIMIT 0``
serves as a describe query (schema only), matching the reference's JDBC
describe path.
"""

from __future__ import annotations

import re
from typing import Any, Optional


_TOKEN_RE = re.compile(r"""
    \s*(?:
      (?P<str>'(?:[^']|'')*')
    | (?P<qid>"[^"]+"|`[^`]+`)
    | (?P<num>-?\d+(?:\.\d+)?)
    | (?P<op><>|<=|>=|!=|=|<|>|\(|\)|,|\*)
    | (?P<word>[A-Za-z_][A-Za-z0-9_.]*)
    )""", re.VERBOSE)

_KEYWORDS = {"select", "from", "where", "group", "order", "by", "limit",
             "offset", "and", "or", "not", "in", "between", "like", "is",
             "null", "asc", "desc", "as", "distinct", "having"}


class SqlParseError(ValueError):
    pass


def _tokenize(sql: str) -> list[tuple[str, str]]:
    out, pos = [], 0
    sql = sql.strip().rstrip(";")
    while pos < len(sql):
        m = _TOKEN_RE.match(sql, pos)
        if not m or m.end() == pos:
            raise SqlParseError(f"cannot tokenize at: {sql[pos:pos+25]!r}")
        pos = m.end()
        kind = m.lastgroup
        text = m.group(kind)
        if kind == "word" and text.lower() in _KEYWORDS:
            out.append(("kw", text.lower()))
        elif kind == "str":
            out.append(("str", text[1:-1].replace("''", "'")))
        elif kind == "qid":
            out.append(("id", text[1:-1]))
        elif kind == "word":
            out.append(("id", text))
        else:
            out.append((kind, text))
    return out


class _Parser:
    def __init__(self, tokens: list[tuple[str, str]]):
        self.toks = tokens
        self.i = 0

    def peek(self) -> tuple[str, str]:
        return self.toks[self.i] if self.i < len(self.toks) else ("eof", "")

    def next(self) -> tuple[str, str]:
        t = self.peek()
        self.i += 1
        return t

    def expect(self, kind: str, text: Optional[str] = None) -> str:
        k, v = self.next()
        if k != kind or (text is not None and v != text):
            raise SqlParseError(f"expected {text or kind}, got {v!r}")
        return v

    def accept(self, kind: str, text: Optional[str] = None) -> bool:
        k, v = self.peek()
        if k == kind and (text is None or v == text):
            self.i += 1
            return True
        return False

    # ------------------------------------------------------------- values
    def value(self) -> Any:
        k, v = self.next()
        if k == "str" or k == "id":
            return v
        if k == "num":
            return float(v) if "." in v else int(v)
        if k == "kw" and v == "null":
            return None
        raise SqlParseError(f"expected a value, got {v!r}")

    def value_list(self) -> list[Any]:
        self.expect("op", "(")
        vals = [self.value()]
        while self.accept("op", ","):
            vals.append(self.value())
        self.expect("op", ")")
        return vals

    # ---------------------------------------------------------- predicates
    def or_expr(self) -> dict[str, Any]:
        parts = [self.and_expr()]
        while self.accept("kw", "or"):
            parts.append(self.and_expr())
        if len(parts) == 1:
            return parts[0]
        return {"operator": "or", "filterExpressions": parts}

    def and_expr(self) -> dict[str, Any]:
        parts = [self.predicate()]
        while self.accept("kw", "and"):
            parts.append(self.predicate())
        if len(parts) == 1:
            return parts[0]
        return {"operator": "and", "filterExpressions": parts}

    def predicate(self) -> dict[str, Any]:
        if self.accept("op", "("):
            inner = self.or_expr()
            self.expect("op", ")")
            return inner
        k, field = self.next()
        if k != "id":
            raise SqlParseError(f"expected a column, got {field!r}")
        k, v = self.peek()
        if k == "op" and v in ("=", "<>", "!=", ">", "<"):
            self.next()
            op = "<>" if v == "!=" else v
            return {"field": field, "operator": op, "value": self.value()}
        if self.accept("kw", "in"):
            return {"field": field, "operator": "in",
                    "values": self.value_list()}
        if self.accept("kw", "not"):
            if self.accept("kw", "in"):
                return {"field": field, "operator": "not in",
                        "values": self.value_list()}
            if self.accept("kw", "like"):
                return {"field": field, "operator": "not like",
                        "value": self.value()}
            raise SqlParseError("expected IN or LIKE after NOT")
        if self.accept("kw", "like"):
            return {"field": field, "operator": "like",
                    "value": self.value()}
        if self.accept("kw", "between"):
            lo = self.value()
            self.expect("kw", "and")
            hi = self.value()
            return {"field": field, "operator": "between",
                    "from": lo, "to": hi}
        if self.accept("kw", "is"):
            if self.accept("kw", "not"):
                self.expect("kw", "null")
                return {"field": field, "operator": "isnotnull"}
            self.expect("kw", "null")
            return {"field": field, "operator": "isnull"}
        raise SqlParseError(f"unsupported predicate on {field!r}")


def sql_to_request_json(sql: str,
                        star_fields: Optional[list[str]] = None,
                        registry: Any = None) -> dict:
    """Parse the supported SQL subset into reporting-request JSON.

    ``star_fields`` (or a ``registry`` to look the cube up in) supplies
    the expansion for ``SELECT *``, mirroring the reference's ``*``
    expansion at MahaCalciteSqlParser.scala:174-246.
    """
    p = _Parser(_tokenize(sql))
    p.expect("kw", "select")
    distinct = p.accept("kw", "distinct")

    fields: list[dict] = []
    if p.accept("op", "*"):
        star = True
    else:
        star = False
        while True:
            k, v = p.next()
            if k != "id":
                raise SqlParseError(f"expected a column, got {v!r}")
            alias = None
            if p.accept("kw", "as"):
                alias = p.expect("id")
            fields.append({"field": v, **({"alias": alias} if alias else {})})
            if not p.accept("op", ","):
                break

    p.expect("kw", "from")
    cube = p.expect("id")

    req: dict[str, Any] = {"cube": cube}
    if star:
        if star_fields is None and registry is not None:
            pub = registry.fact(cube)
            star_fields = (list(pub.dim_alias_map()) +
                           list(pub.fact_alias_map()))
        if not star_fields:
            raise SqlParseError("SELECT * requires the cube's field list")
        req["selectFields"] = [{"field": f} for f in star_fields]
    else:
        req["selectFields"] = fields
    if distinct:
        req["distinct"] = True

    if p.accept("kw", "where"):
        cond = p.or_expr()
        req["filterExpressions"] = (cond["filterExpressions"]
                                    if cond.get("operator") == "and"
                                    else [cond])
    if p.accept("kw", "group"):
        p.expect("kw", "by")  # grouping is implicit; consume and ignore
        p.next()
        while p.accept("op", ","):
            p.next()
    if p.accept("kw", "having"):
        # HAVING predicates use the same grammar as WHERE; metric-alias
        # filters classify into the aggregate (HAVING) path downstream
        # (MahaCalciteSqlParser.scala:248-380 WHERE+HAVING handling)
        cond = p.or_expr()
        extra = (cond["filterExpressions"]
                 if cond.get("operator") == "and" else [cond])
        req.setdefault("filterExpressions", []).extend(extra)
    if p.accept("kw", "order"):
        p.expect("kw", "by")
        sorts = []
        while True:
            f = p.expect("id")
            order = "ASC"
            if p.accept("kw", "desc"):
                order = "DESC"
            else:
                p.accept("kw", "asc")
            sorts.append({"field": f, "order": order})
            if not p.accept("op", ","):
                break
        req["sortBy"] = sorts
    if p.accept("kw", "limit"):
        req["rowsPerPage"] = int(p.expect("num"))
    if p.accept("kw", "offset"):
        req["paginationStartIndex"] = int(p.expect("num"))
    if p.peek()[0] != "eof":
        raise SqlParseError(f"trailing tokens at {p.peek()[1]!r}")
    return req
