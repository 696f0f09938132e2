"""SQL entry points for the manifest DML surface (VERDICT r8 item 2).

The reference's single hand-written query is SQL — the NOT-EXISTS load
in its serving lambda (ref: load_to_redshift_lambda.py:88-98) — and a
user coming from that serving layer writes SQL for the WRITE side too.
``sql_api_order_stats`` already proves the read side through
``spark.sql``; this module gives the write side the same front door:
Delta-SQL-shaped statements dispatched onto the existing manifest DML
APIs (sinks/manifest.py), so every statement inherits their optimistic
concurrency, file pruning, and audit-log stamping unchanged.

Supported statements (case-insensitive keywords)::

    CREATE TABLE [IF NOT EXISTS] <t> (col type [, ...])
        [PARTITIONED BY (col, ...)]
    CREATE TABLE <t2> SHALLOW CLONE <t> [VERSION AS OF <n>]
    CONVERT TO MANIFEST <t>
    INSERT INTO <t> SELECT ... [WHERE NOT EXISTS
        (SELECT 1 FROM <t> r WHERE r.k = s.k)]
    INSERT OVERWRITE <t> SELECT ...   -- dynamic on partitioned tables
    DELETE FROM <t> WHERE <predicate>
    UPDATE <t> SET col = <spark sql expr> [, ...] WHERE <predicate>
    MERGE INTO <t> [AS a] USING <temp view> [AS b] ON a.k = b.k
        [WHEN MATCHED [AND <cond>] THEN UPDATE SET * | UPDATE SET col = expr, ...
                                      | DELETE]...
        [WHEN NOT MATCHED [AND <cond>] THEN INSERT *]...
    RESTORE TABLE <t> TO VERSION AS OF <n>
    RESTORE TABLE <t> TO TIMESTAMP AS OF <epoch seconds | 'ISO-8601'>
    DESCRIBE HISTORY <t>
    DESCRIBE DETAIL <t>
    VACUUM <t> [RETAIN <n> VERSIONS] [DRY RUN]
    OPTIMIZE <t> [ZORDER BY (col, ...)]
    OPTIMIZE <t> [TARGET <n> ROWS] WHERE <predicate>   -- incremental bin-pack
    ALTER TABLE <t> RENAME COLUMN <old> TO <new>
    ALTER TABLE <t> DROP COLUMN <col>
    ALTER TABLE <t> ADD COLUMN <col> <type>
    ALTER TABLE <t> ADD COLUMN <col> <type> GENERATED ALWAYS AS (<expr>)
    ALTER TABLE <t> ADD COLUMN <col> BIGINT GENERATED BY DEFAULT AS
        IDENTITY [(START WITH <n> INCREMENT BY <n>)]
    ALTER TABLE <t> ALTER COLUMN <col> TYPE <type>      -- widening only
    ALTER TABLE <t> DROP PARTITION (col = lit [, ...])
    ALTER TABLE <t> ADD CONSTRAINT <name> CHECK (<expr>)
    ALTER TABLE <t> DROP CONSTRAINT <name>

``<t>`` resolves through the caller's ``catalog`` (name → manifest table
root); a name containing ``/`` or a URI scheme is taken as a direct
path. DELETE/UPDATE WHERE clauses compile to the sinks/filestats
predicate-tree language, so the SQL front door gets the SAME file-level
pruning as the Python API — the predicate reaches the manifest's
min/max/bloom stats before any data file opens. The WHERE grammar:
comparisons (``= != <> < <= > >=``), ``IN``/``NOT IN`` lists, ``IS
[NOT] NULL``, ``NOT``, ``AND``/``OR``, parentheses. Negation matches
rows with the FULL predicate and prunes files with the sound
approximation (``x != v`` skips only files whose stats prove
min == max == v; a bare NOT pushes to the leaves at normalization) —
exactly Delta's split between row matching and file skipping. UPDATE
assignment right-hand sides pass through to ``F.expr`` untouched, so
any Spark SQL scalar expression works there.

CREATE TABLE and INSERT INTO .. SELECT are the reference's ONLY
hand-written SQL (ref: load_to_redshift_lambda.py:78-98), so they run
verbatim here (modulo table names). CREATE TABLE commits version 1
with the declared schema and an empty file list
(``manifest.create_table``); IF NOT EXISTS makes it the idempotent
serving-DDL no-op. INSERT evaluates its SELECT body via ``spark.sql``
— every catalog name appearing in the body is auto-registered as a
view over the table's native snapshot read (``manifest.read_table``),
so the SELECT can read manifest tables and temp views alike — and then
dispatches by shape: the reference's idempotent NOT-EXISTS form
(``WHERE NOT EXISTS (SELECT 1 FROM <target> r WHERE r.k = s.k)`` as
the entire top-level WHERE, correlated back to the INSERT target on
one key equality) strips the subquery and routes to
``manifest.append_table_if_absent`` — the FILE-PRUNED, CAS-serialized
anti-join load, returning the number of rows inserted (the
``cursor.rowcount`` the reference logs); any other SELECT evaluates
as written and appends via ``write_table(mode="append")``, returning
the committed version.

MERGE accepts the general clause list (VERDICT r9 item 3 — the
standard CDC-with-deletes shape): conditional ``WHEN MATCHED [AND
cond] THEN UPDATE/DELETE`` and ``WHEN NOT MATCHED [AND cond] THEN
INSERT *``, applied first-match-wins in statement order via
``manifest.merge_table``; conditions/assignments reference the
statement's own target/source aliases. The classic unconditional
upsert pair (or elided clauses) keeps dispatching to ``upsert_table``
— same semantics, dedicated path. VACUUM RETAIN counts
VERSIONS, not hours: the manifest's retention unit is the version
horizon (manifest.vacuum keep_last), stated here so the divergence from
Delta's RETAIN .. HOURS is explicit, not a surprise.
"""

from __future__ import annotations

import re

from pyspark.sql import SparkSession

from cashback_data_pipeline_spark.sinks import manifest as M

_TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<string>'(?:[^']|'')*')
      | (?P<number>-?\d+\.\d+|-?\d+)
      | (?P<ident>[A-Za-z_][A-Za-z0-9_.]*|`[^`]+`)
      | (?P<op><=|>=|<>|!=|==|=|<|>|\(|\)|,|\*)
    )""",
    re.VERBOSE,
)


def _tokenize(text: str) -> list[tuple[str, str, int]]:
    """(kind, value, start_offset) triples; raises on any stray char so
    an unsupported construct fails loudly, never half-parses."""
    out = []
    pos = 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if m is None:
            if text[pos:].strip() == "":
                break
            raise ValueError(f"cannot tokenize SQL at: {text[pos:pos + 30]!r}")
        kind = m.lastgroup
        out.append((kind, m.group(kind), m.start(kind)))
        pos = m.end()
    return out


class _Parser:
    def __init__(self, text: str):
        self.text = text
        self.toks = _tokenize(text)
        self.i = 0

    def peek(self, k: int = 0):
        j = self.i + k
        return self.toks[j] if j < len(self.toks) else (None, None, len(self.text))

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    def at_keyword(self, *words: str) -> bool:
        for k, w in enumerate(words):
            kind, val, _ = self.peek(k)
            if kind != "ident" or val.upper() != w:
                return False
        return True

    def expect_keyword(self, *words: str) -> None:
        if not self.at_keyword(*words):
            kind, val, off = self.peek()
            raise ValueError(
                f"expected {' '.join(words)} at offset {off}, got {val!r} "
                f"in: {self.text!r}"
            )
        self.i += len(words)

    def expect_op(self, op: str) -> None:
        kind, val, off = self.peek()
        if kind != "op" or val != op:
            raise ValueError(f"expected {op!r} at offset {off}, got {val!r}")
        self.i += 1

    def ident(self) -> str:
        kind, val, off = self.peek()
        if kind != "ident":
            raise ValueError(f"expected identifier at offset {off}, got {val!r}")
        self.i += 1
        return val.strip("`")

    def done(self) -> bool:
        return self.i >= len(self.toks)

    # -- literals ---------------------------------------------------------
    def literal(self):
        kind, val, off = self.peek()
        if kind == "number":
            self.i += 1
            return float(val) if "." in val else int(val)
        if kind == "string":
            self.i += 1
            return val[1:-1].replace("''", "'")
        if kind == "ident" and val.upper() in ("TRUE", "FALSE"):
            self.i += 1
            return val.upper() == "TRUE"
        raise ValueError(f"expected literal at offset {off}, got {val!r}")

    # -- WHERE → skip-tree --------------------------------------------------
    # grammar: or := and (OR and)* ; and := primary (AND primary)* ;
    # primary := '(' or ')' | leaf
    def where_tree(self):
        node = self._or()
        return node

    def _or(self):
        parts = [self._and()]
        while self.at_keyword("OR"):
            self.i += 1
            parts.append(self._and())
        return parts[0] if len(parts) == 1 else ("or", parts)

    def _and(self):
        parts = [self._primary()]
        while self.at_keyword("AND"):
            self.i += 1
            parts.append(self._primary())
        return parts[0] if len(parts) == 1 else ("and", parts)

    def _primary(self):
        kind, val, _ = self.peek()
        if self.at_keyword("NOT"):
            # NOT negates the following primary; filestats pushes it to
            # the leaves, matching rows with the full predicate and
            # pruning files with the sound approximation (VERDICT r9
            # item 1 — the Delta behavior)
            self.i += 1
            return ("not", self._primary())
        if kind == "op" and val == "(":
            self.i += 1
            node = self._or()
            self.expect_op(")")
            return node
        return self._leaf()

    def _in_list(self):
        self.expect_op("(")
        lits = [self.literal()]
        while self.peek()[0] == "op" and self.peek()[1] == ",":
            self.i += 1
            lits.append(self.literal())
        self.expect_op(")")
        return lits

    def _leaf(self):
        col = self.ident()
        if self.at_keyword("IS", "NOT", "NULL"):
            self.i += 3
            return (col, "is_not_null")
        if self.at_keyword("IS", "NULL"):
            self.i += 2
            return (col, "is_null")
        if self.at_keyword("NOT", "IN"):
            self.i += 2
            return (col, "not_in", self._in_list())
        if self.at_keyword("IN"):
            self.i += 1
            return (col, "in", self._in_list())
        kind, op, off = self.peek()
        if kind != "op" or op not in ("=", "==", "<", "<=", ">", ">=", "!=", "<>"):
            raise ValueError(f"expected comparison operator at offset {off}, got {op!r}")
        self.i += 1
        lit = self.literal()
        if op in ("!=", "<>"):
            return (col, "!=", lit)
        return (col, "==" if op in ("=", "==") else op, lit)


def _resolve_table(name: str, catalog: dict | None) -> str:
    if catalog and name in catalog:
        return catalog[name]
    if "/" in name or "://" in name:
        return name
    raise ValueError(
        f"unknown table {name!r}: not in the catalog and not a path "
        f"(catalog keys: {sorted(catalog) if catalog else []})"
    )


def _split_top_level(text: str, sep: str) -> list[str]:
    """Split on ``sep`` at paren depth 0, outside string literals — for
    SET lists whose right-hand sides may contain commas/parens."""
    parts, depth, start, i, n = [], 0, 0, 0, len(text)
    in_str = False
    while i < n:
        c = text[i]
        if in_str:
            if c == "'":
                if i + 1 < n and text[i + 1] == "'":
                    i += 2
                    continue
                in_str = False
        elif c == "'":
            in_str = True
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == sep and depth == 0:
            parts.append(text[start:i])
            start = i + 1
        i += 1
    parts.append(text[start:])
    return parts


_KEYWORD_SPLIT_CACHE: dict[str, re.Pattern] = {}


def _find_keyword(text: str, word: str) -> int:
    """Offset of the first top-level (depth-0, outside strings) keyword
    occurrence, or -1."""
    pat = _KEYWORD_SPLIT_CACHE.get(word)
    if pat is None:
        pat = re.compile(rf"\b{word}\b", re.IGNORECASE)
        _KEYWORD_SPLIT_CACHE[word] = pat
    depth = 0
    in_str = False
    i = 0
    while i < len(text):
        c = text[i]
        if in_str:
            if c == "'":
                if i + 1 < len(text) and text[i + 1] == "'":
                    i += 2
                    continue
                in_str = False
        elif c == "'":
            in_str = True
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0:
            m = pat.match(text, i)
            if m:
                return i
        i += 1
    return -1


_WHEN_CLAUSE_RE = re.compile(r"(?is)^WHEN\s+(NOT\s+)?MATCHED\b")


def _clause_when_positions(tail: str) -> list[int]:
    """Offsets of the top-level ``WHEN [NOT] MATCHED`` clause starts —
    a bare WHEN inside an assignment's CASE expression is NOT a clause
    boundary (round-10 review: ``SET x = CASE WHEN ...`` must parse)."""
    out = []
    off = 0
    while True:
        i = _find_keyword(tail[off:], "WHEN")
        if i < 0:
            return out
        j = off + i
        if _WHEN_CLAUSE_RE.match(tail[j:]):
            out.append(j)
        off = j + 4


def _split_when_clauses(tail: str) -> list[str]:
    """The MERGE tail split into WHEN-clause texts (top-level
    ``WHEN [NOT] MATCHED`` only, outside strings/parens)."""
    pos = _clause_when_positions(tail)
    if not pos:
        return []
    if tail[: pos[0]].strip():
        raise ValueError(f"malformed MERGE tail before WHEN: {tail[:pos[0]]!r}")
    bounds = pos + [len(tail)]
    return [tail[a + 4 : b].strip() for a, b in zip(bounds, bounds[1:])]


def _parse_set_assignments(set_text: str) -> dict:
    out = {}
    for part in _split_top_level(set_text, ","):
        eq = part.find("=")
        if eq < 0:
            raise ValueError(f"malformed SET assignment: {part.strip()!r}")
        col = part[:eq].strip().strip("`")
        if "." in col:
            col = col.rsplit(".", 1)[1].strip("`")  # t.col → col
        expr = part[eq + 1 :].strip()
        if not col or not expr:
            raise ValueError(f"malformed SET assignment: {part.strip()!r}")
        out[col] = expr
    return out


_MATCHED_RE = re.compile(
    r"(?is)^MATCHED\s*(?:AND\s+(?P<cond>.*?)\s+)?THEN\s+"
    r"(?:(?P<delete>DELETE)|UPDATE\s+SET\s+(?P<set>.+))\s*$"
)
_NOT_MATCHED_RE = re.compile(
    r"(?is)^NOT\s+MATCHED\s*(?:AND\s+(?P<cond>.*?)\s+)?THEN\s+INSERT\s+\*\s*$"
)


def _parse_merge_when(tail: str):
    """(when_matched, when_not_matched) clause lists for
    ``manifest.merge_table``, or None for the legacy unconditional
    upsert pair (dispatched to the file-pruned ``upsert_table``).
    Clauses apply in statement order — Delta's first-match-wins."""
    clauses = _split_when_clauses(tail)
    if not clauses:
        if tail.strip():
            raise ValueError(f"malformed MERGE tail: {tail.strip()!r}")
        return None  # elided WHEN clauses = plain upsert
    wm, wnm = [], []
    for cl in clauses:
        m = _NOT_MATCHED_RE.match(cl)
        if m:
            wnm.append(("insert", m.group("cond"), "*"))
            continue
        m = _MATCHED_RE.match(cl)
        if not m:
            raise ValueError(
                f"unsupported MERGE WHEN clause: {cl!r} (supported: WHEN "
                "MATCHED [AND cond] THEN UPDATE SET */assignments | DELETE; "
                "WHEN NOT MATCHED [AND cond] THEN INSERT *)"
            )
        cond = m.group("cond")
        if m.group("delete"):
            wm.append(("delete", cond))
        else:
            set_text = m.group("set").strip()
            if set_text == "*":
                wm.append(("update", cond, "*"))
            else:
                wm.append(("update", cond, _parse_set_assignments(set_text)))
    if wm == [("update", None, "*")] and wnm == [("insert", None, "*")]:
        return None  # the classic upsert pair — keep the dedicated path
    return wm, wnm


_WORD_RE_CACHE: dict[str, re.Pattern] = {}


# plan marker proving a temp view was registered by THIS module: the
# engine's views are wrapped in a SubqueryAlias of this name, which
# survives into the catalog's stored plan. Ownership is re-proven from
# the LIVE catalog on every statement (ADVICE r11: a module-global
# (name, path) map skipped the caller-staged-view check after the first
# registration, silently clobbering a view the caller staged later, and
# went stale across sessions/table re-creations).
_ENGINE_VIEW_MARKER = "__manifest_engine_view__"


def _register_catalog_views(spark, select_text: str, catalog: dict | None) -> None:
    """Auto-register every catalog table the SELECT body references as a
    temp view over the NATIVE snapshot read (``manifest.read_table``:
    one JVM parquet scan of the current version's file list, DVs and
    column mapping applied), so ``spark.sql`` resolves it — the
    Spectrum-schema-in-Redshift analog. Names already bound by a CALLER
    are left alone (a caller's staged view wins).

    This is the same read as the public ``manifest_source.register_view``
    surface; the engine marker alias only records that the view is the
    engine's to refresh. Partition predicates prune files in Spark's
    file index and the Parquet scan applies footer min/max + predicate
    pushdown to the rest."""
    from cashback_data_pipeline_spark.sinks import manifest as M

    for name, path in (catalog or {}).items():
        pat = _WORD_RE_CACHE.get(name)
        if pat is None:
            pat = re.compile(rf"\b{re.escape(name)}\b", re.IGNORECASE)
            _WORD_RE_CACHE[name] = pat
        if not pat.search(select_text):
            continue
        try:
            existing = spark.table(name)
        except Exception:
            existing = None
        if existing is not None:
            try:
                owned = _ENGINE_VIEW_MARKER in existing._jdf.queryExecution().analyzed().toString()
            except Exception:
                owned = False
            if not owned:
                continue  # caller-staged view wins — re-proven every statement
            # engine-owned: fall through and re-register so the snapshot
            # (and the path, if the catalog remapped the name) refreshes
        M.read_table(spark, path).alias(_ENGINE_VIEW_MARKER).createOrReplaceTempView(name)


_NOT_EXISTS_RE = re.compile(
    r"(?is)^WHERE\s+NOT\s+EXISTS\s*\(\s*SELECT\s+1\s+FROM\s+(\S+?)"
    r"(?:\s+(?:AS\s+)?(\w+))?\s+WHERE\s+(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)\s*\)\s*$"
)


def _split_not_exists_load(text_sel: str, target_name: str, catalog: dict | None):
    """If the SELECT's entire top-level WHERE is the reference's
    idempotent NOT-EXISTS screen against the INSERT target itself
    (one key equality correlated through the subquery alias), return
    ``(select_without_where, key)``; else None."""
    w = _find_keyword(text_sel, "WHERE")
    if w < 0:
        return None
    m = _NOT_EXISTS_RE.match(text_sel[w:])
    if not m:
        return None
    sub_name, sub_alias, q1, k1, q2, k2 = m.groups()
    sub_name = sub_name.strip("`").rstrip(";")
    # the subquery must scan the INSERT target (by name or by path)
    is_target = sub_name == target_name or (
        catalog is not None
        and catalog.get(sub_name) is not None
        and catalog.get(sub_name) == catalog.get(target_name, target_name)
    )
    if not is_target:
        return None
    if k1 != k2:
        return None  # correlation must equate the SAME key column
    sub_q = sub_alias or sub_name
    if sub_q not in (q1, q2):
        return None  # neither side references the subquery's own scan
    return text_sel[:w].rstrip(), k1


def execute(spark: SparkSession, statement: str, catalog: dict | None = None):
    """Dispatch one SQL DML/utility statement onto the manifest APIs.

    Returns what the underlying API returns: the committed version
    (int) for CREATE/DELETE/UPDATE/MERGE/RESTORE and the plain
    INSERT..SELECT append, the ROWS INSERTED for the idempotent
    NOT-EXISTS INSERT (the reference's rowcount), a DataFrame for
    DESCRIBE HISTORY, the removed-dirs list for VACUUM."""
    text = statement.strip().rstrip(";").strip()
    head = text.split(None, 2)
    if not head:
        raise ValueError("empty statement")
    kw = head[0].upper()

    if kw == "CREATE":
        m = re.match(
            r"(?is)^CREATE\s+TABLE\s+(\S+)\s+SHALLOW\s+CLONE\s+(\S+)"
            r"(?:\s+VERSION\s+AS\s+OF\s+(\d+))?\s*$",
            text,
        )
        if m:
            return M.clone_table(
                _resolve_table(m.group(2).strip("`"), catalog),
                _resolve_table(m.group(1).strip("`"), catalog),
                version=int(m.group(3)) if m.group(3) else None,
            )
        body, pcols = text, None
        pb = _find_keyword(text, "PARTITIONED")
        if pb >= 0:
            mp = re.match(r"(?is)^PARTITIONED\s+BY\s*\(([^)]+)\)\s*$", text[pb:])
            if not mp:
                raise ValueError(f"malformed PARTITIONED BY clause in: {text!r}")
            pcols = [c.strip().strip("`") for c in mp.group(1).split(",") if c.strip()]
            body = text[:pb].rstrip()
        m = re.match(
            r"(?is)^CREATE\s+TABLE\s+(?:(IF\s+NOT\s+EXISTS)\s+)?(\S+)\s*\((.+)\)\s*$",
            body,
        )
        if not m:
            raise ValueError(
                "malformed CREATE (CREATE TABLE [IF NOT EXISTS] t (col type, "
                f"...) [PARTITIONED BY (col, ...)]): {text!r}"
            )
        table = _resolve_table(m.group(2).strip("`"), catalog)
        return M.create_table(
            table, m.group(3).strip(), if_not_exists=bool(m.group(1)),
            partition_by=pcols,
        )

    if kw == "INSERT":
        m = re.match(
            r"(?is)^INSERT\s+(INTO|OVERWRITE)\s+(\S+)\s+(SELECT\b.*)$", text
        )
        if not m:
            raise ValueError(
                f"malformed INSERT (INSERT INTO|OVERWRITE t SELECT ...): {text!r}"
            )
        overwrite = m.group(1).upper() == "OVERWRITE"
        target_name = m.group(2).strip("`")
        table = _resolve_table(target_name, catalog)
        sel = m.group(3).strip()
        _register_catalog_views(spark, sel, catalog)
        if overwrite:
            # INSERT OVERWRITE follows the session's dynamic-overwrite
            # posture (session.py sets partitionOverwriteMode=dynamic):
            # on a PARTITIONED table exactly the batch's partitions are
            # replaced; otherwise the whole table is
            cur = M.current_version(table)
            partitioned = cur is not None and M._partitioning(
                M.read_manifest(table, cur)
            )
            return M.write_table(
                spark.sql(sel), table,
                mode="overwrite_partitions" if partitioned else "overwrite",
            )
        idem = _split_not_exists_load(sel, target_name, catalog)
        if idem is not None:
            body, key = idem
            return M.append_table_if_absent(spark, spark.sql(body), table, key=key)
        return M.write_table(spark.sql(sel), table, mode="append")

    if kw == "CONVERT":
        m = re.match(r"(?is)^CONVERT\s+TO\s+MANIFEST\s+(\S+)$", text)
        if not m:
            raise ValueError(f"malformed CONVERT (CONVERT TO MANIFEST t): {text!r}")
        return M.convert_to_table(spark, _resolve_table(m.group(1).strip("`"), catalog))

    if kw == "DELETE":
        p = _Parser(text)
        p.expect_keyword("DELETE", "FROM")
        table = _resolve_table(p.ident(), catalog)
        p.expect_keyword("WHERE")
        tree = p.where_tree()
        if not p.done():
            raise ValueError(f"trailing tokens after WHERE in: {text!r}")
        return M.delete_where(spark, table, tree)

    if kw == "UPDATE":
        m = re.match(r"(?is)^UPDATE\s+(\S+)\s+SET\s+(.*)$", text)
        if not m:
            raise ValueError(f"malformed UPDATE: {text!r}")
        table = _resolve_table(m.group(1).strip("`"), catalog)
        rest = m.group(2)
        w = _find_keyword(rest, "WHERE")
        if w < 0:
            raise ValueError(
                "UPDATE requires a WHERE clause (a full-table update should "
                "be an explicit overwrite, not an implicit one)"
            )
        set_text, where_text = rest[:w], rest[w + len("WHERE"):]
        assignments = {}
        for part in _split_top_level(set_text, ","):
            eq = part.find("=")
            if eq < 0:
                raise ValueError(f"malformed SET assignment: {part.strip()!r}")
            col = part[:eq].strip().strip("`")
            expr = part[eq + 1:].strip()
            if not col or not expr:
                raise ValueError(f"malformed SET assignment: {part.strip()!r}")
            assignments[col] = expr
        p = _Parser(where_text)
        tree = p.where_tree()
        if not p.done():
            raise ValueError(f"trailing tokens after WHERE in: {text!r}")
        return M.update_where(spark, table, assignments, tree)

    if kw == "MERGE":
        m = re.match(
            r"(?is)^MERGE\s+INTO\s+(\S+)(?:\s+AS\s+(\w+))?\s+USING\s+(\S+)"
            r"(?:\s+AS\s+(\w+))?\s+ON\s+(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)\s*(.*)$",
            text,
        )
        if not m:
            raise ValueError(
                f"malformed MERGE (expected MERGE INTO t USING view ON a.k = b.k): {text!r}"
            )
        target_name, t_alias, source_name, s_alias, q1, k1, q2, k2, tail = m.groups()
        target_name = target_name.strip("`")
        t_alias = t_alias or target_name
        s_alias = s_alias or source_name
        if k1 != k2:
            raise ValueError(
                f"MERGE ON must equate the SAME key column on both sides "
                f"(got {q1}.{k1} = {q2}.{k2})"
            )
        quals = {q1, q2}
        if quals != {t_alias, s_alias} and len(quals) == 2:
            raise ValueError(
                f"MERGE ON qualifiers {sorted(quals)} do not match the "
                f"target/source aliases {[t_alias, s_alias]}"
            )
        parsed = _parse_merge_when(tail)
        table = _resolve_table(target_name, catalog)
        source = spark.table(source_name)
        if parsed is None:
            # the classic unconditional upsert pair (or elided clauses)
            return M.upsert_table(spark, source, table, key=k1)
        wm, wnm = parsed
        return M.merge_table(
            spark, source, table, key=k1,
            when_matched=wm, when_not_matched=wnm,
            t_alias=t_alias, s_alias=s_alias,
        )

    if kw == "RESTORE":
        m = re.match(
            r"(?is)^RESTORE\s+TABLE\s+(\S+)\s+TO\s+(VERSION|TIMESTAMP)\s+AS\s+OF\s+(.+)$",
            text,
        )
        if not m:
            raise ValueError(f"malformed RESTORE: {text!r}")
        table = _resolve_table(m.group(1).strip("`"), catalog)
        what, lit = m.group(2).upper(), m.group(3).strip()
        if what == "VERSION":
            return M.restore_table(table, version=int(lit))
        if lit.startswith("'"):
            import datetime as dt

            ts = dt.datetime.fromisoformat(lit.strip("'"))
            if ts.tzinfo is None:
                ts = ts.replace(tzinfo=dt.timezone.utc)
            return M.restore_table(table, as_of_ts=ts.timestamp())
        return M.restore_table(table, as_of_ts=float(lit))

    if kw == "DESCRIBE":
        m = re.match(r"(?is)^DESCRIBE\s+HISTORY\s+(\S+)$", text)
        if m:
            return M.table_history(spark, _resolve_table(m.group(1).strip("`"), catalog))
        m = re.match(r"(?is)^DESCRIBE\s+DETAIL\s+(\S+)$", text)
        if m:
            return M.describe_detail(spark, _resolve_table(m.group(1).strip("`"), catalog))
        raise ValueError(f"malformed DESCRIBE (DESCRIBE HISTORY t / DESCRIBE DETAIL t): {text!r}")

    if kw == "VACUUM":
        m = re.match(
            r"(?is)^VACUUM\s+(\S+)(?:\s+RETAIN\s+(\d+)\s+VERSIONS)?"
            r"(?:\s+(DRY\s+RUN))?$",
            text,
        )
        if not m:
            raise ValueError(f"malformed VACUUM: {text!r}")
        table = _resolve_table(m.group(1).strip("`"), catalog)
        keep = int(m.group(2)) if m.group(2) else 2
        return M.vacuum(table, keep_last=keep, dry_run=bool(m.group(3)))

    if kw == "OPTIMIZE":
        m = re.match(r"(?is)^OPTIMIZE\s+(\S+)\s+ZORDER\s+BY\s*\(([^)]+)\)$", text)
        if m:
            cols = [c.strip().strip("`") for c in m.group(2).split(",") if c.strip()]
            return M.compact_table(
                spark, _resolve_table(m.group(1).strip("`"), catalog), zorder_by=cols
            )
        m = re.match(
            r"(?is)^OPTIMIZE\s+(\S+)(?:\s+TARGET\s+(\d+)\s+ROWS)?(?:\s+WHERE\s+(.+))?$",
            text,
        )
        if not m:
            raise ValueError(f"malformed OPTIMIZE: {text!r}")
        table = _resolve_table(m.group(1).strip("`"), catalog)
        if m.group(2) or m.group(3):
            # incremental bin-packing (the Delta OPTIMIZE [WHERE] shape):
            # only small files rewrite, O(small files) however large the
            # table — WHERE scopes the pass via the skip tree
            kwargs = {}
            if m.group(2):
                kwargs["target_rows"] = int(m.group(2))
            if m.group(3):
                p = _Parser(m.group(3))
                kwargs["predicates"] = p.where_tree()
                if not p.done():
                    raise ValueError(f"trailing tokens after WHERE in: {text!r}")
            return M.optimize_table(spark, table, **kwargs)
        return M.compact_table(spark, table)

    if kw == "ALTER":
        m = re.match(
            r"(?is)^ALTER\s+TABLE\s+(\S+)\s+RENAME\s+COLUMN\s+(\S+)\s+TO\s+(\S+)$", text
        )
        if m:
            return M.rename_column(
                _resolve_table(m.group(1).strip("`"), catalog),
                m.group(2).strip("`"),
                m.group(3).strip("`"),
            )
        m = re.match(r"(?is)^ALTER\s+TABLE\s+(\S+)\s+DROP\s+COLUMN\s+(\S+)$", text)
        if m:
            return M.drop_column(
                _resolve_table(m.group(1).strip("`"), catalog), m.group(2).strip("`")
            )
        m = re.match(
            r"(?is)^ALTER\s+TABLE\s+(\S+)\s+DROP\s+PARTITION\s*\((.+)\)\s*$", text
        )
        if m:
            p = _Parser(m.group(2))
            values = {}
            while True:
                col = p.ident()
                p.expect_op("=")
                values[col] = p.literal()
                if p.done():
                    break
                p.expect_op(",")
            return M.drop_partition(
                _resolve_table(m.group(1).strip("`"), catalog), values
            )
        m = re.match(
            r"(?is)^ALTER\s+TABLE\s+(\S+)\s+ADD\s+COLUMN\s+(\S+)\s+BIGINT\s+"
            r"GENERATED\s+BY\s+DEFAULT\s+AS\s+IDENTITY"
            r"(?:\s*\(\s*START\s+WITH\s+(-?\d+)\s+INCREMENT\s+BY\s+(\d+)\s*\))?\s*$",
            text,
        )
        if m:
            return M.add_identity_column(
                _resolve_table(m.group(1).strip("`"), catalog),
                m.group(2).strip("`"),
                start=int(m.group(3)) if m.group(3) else 1,
                step=int(m.group(4)) if m.group(4) else 1,
            )
        m = re.match(
            r"(?is)^ALTER\s+TABLE\s+(\S+)\s+ADD\s+COLUMN\s+(\S+)\s+(.+?)\s+"
            r"GENERATED\s+ALWAYS\s+AS\s*\((.+)\)\s*$",
            text,
        )
        if m:
            return M.add_generated_column(
                _resolve_table(m.group(1).strip("`"), catalog),
                m.group(2).strip("`"),
                m.group(3).strip(),
                m.group(4).strip(),
            )
        m = re.match(
            r"(?is)^ALTER\s+TABLE\s+(\S+)\s+ADD\s+COLUMN\s+(\S+)\s+(.+)$", text
        )
        if m:
            return M.add_column(
                _resolve_table(m.group(1).strip("`"), catalog),
                m.group(2).strip("`"),
                m.group(3).strip(),
            )
        m = re.match(
            r"(?is)^ALTER\s+TABLE\s+(\S+)\s+ALTER\s+COLUMN\s+(\S+)\s+TYPE\s+(.+)$", text
        )
        if m:
            return M.widen_column(
                _resolve_table(m.group(1).strip("`"), catalog),
                m.group(2).strip("`"),
                m.group(3).strip(),
            )
        m = re.match(
            r"(?is)^ALTER\s+TABLE\s+(\S+)\s+ADD\s+CONSTRAINT\s+(\w+)\s+CHECK\s*\((.+)\)\s*$",
            text,
        )
        if m:
            return M.add_constraint(
                spark,
                _resolve_table(m.group(1).strip("`"), catalog),
                m.group(2),
                m.group(3).strip(),
            )
        m = re.match(
            r"(?is)^ALTER\s+TABLE\s+(\S+)\s+DROP\s+CONSTRAINT\s+(\w+)$", text
        )
        if m:
            return M.drop_constraint(
                _resolve_table(m.group(1).strip("`"), catalog), m.group(2)
            )
        raise ValueError(
            "malformed ALTER (supported: RENAME COLUMN old TO new / DROP "
            "COLUMN col / ADD COLUMN col type / ALTER COLUMN col TYPE type / "
            f"ADD CONSTRAINT name CHECK (expr) / DROP CONSTRAINT name): {text!r}"
        )

    raise ValueError(
        f"unsupported statement {kw!r}; supported: CREATE TABLE, INSERT "
        "INTO .. SELECT, DELETE FROM, UPDATE, MERGE INTO, RESTORE TABLE, "
        "DESCRIBE HISTORY, VACUUM, OPTIMIZE, ALTER TABLE RENAME/DROP COLUMN"
    )
