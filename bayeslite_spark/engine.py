"""SparkBQL: the BQL engine (parse -> plan -> DataFrame).

The reference pipeline is BQL -> Lemon parse -> SQL text -> SQLite with
per-row Python callbacks (/root/reference/src/bayesdb.py:268-282,
src/compiler.py). Here the pipeline is BQL -> AST (parser/) -> a planner
that resolves metadata from the driver-side catalog and emits a DataFrame
plan. Model math enters plans as either (a) broadcast scalars (population
constants), (b) vectorized pandas UDFs with broadcast model state (per-row
estimators), or (c) generated sample DataFrames (SIMULATE) — never
row-at-a-time Python callbacks.

Estimator aggregation over the model ensemble follows the reference:
mean over generators of mean over models (src/bqlfn.py:284-326), and
log-domain logmeanexp for densities (src/bqlfn.py:351-408).
"""

from __future__ import annotations

import math
import re
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bayeslite_spark.backends import get_backend
from bayeslite_spark.catalog import Catalog, Generator, Population, Variable
from bayeslite_spark.functions import stats as obs_stats
from bayeslite_spark.functions.mathutil import logmeanexp
from bayeslite_spark.parser import ast_nodes as A
from bayeslite_spark.parser.dialect import rewrite_sqlite
from bayeslite_spark.errors import BQLError
from bayeslite_spark.parser import parse_phrase
from bayeslite_spark.session import local_frame

_EMPTY = object()


_INT_LIT_RE = re.compile(r"[+-]?[0-9]+")
# '' is the only escape folded; a backslash goes to Spark's unescaping
_STR_LIT_RE = re.compile(r"'((?:[^'\\]|'')*)'")
_KEYWORD_LITS = {"null": None, "true": True, "false": False}


def _fold_literal(sql: str):
    """The value Spark's ``SELECT <sql>`` would collect, for a plain
    literal — an int64 integer, a single-quoted string, NULL, TRUE or
    FALSE — with the same Python type; ``_EMPTY`` for anything else."""
    t = sql.strip()
    if _INT_LIT_RE.fullmatch(t):
        v = int(t)
        return v if -2 ** 63 <= v < 2 ** 63 else _EMPTY
    m = _STR_LIT_RE.fullmatch(t)
    if m:
        return m.group(1).replace("''", "'")
    return _KEYWORD_LITS.get(t.lower(), _EMPTY)


def _dlit(v: float) -> str:
    """A Spark SQL DOUBLE literal that parses back to exactly ``v``."""
    v = float(v)
    if math.isfinite(v):
        return f"({v!r}D)"
    return SparkBQL._lit_sql(v)


def _slit(v: str) -> str:
    """A Spark SQL string literal that parses back to exactly ``v``
    (Spark unescapes backslashes inside literals)."""
    return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _logsumexp_rows(mat):
    mx = mat.max(axis=1, keepdims=True)
    return mx[:, 0] + np.log(np.exp(mat - mx).sum(axis=1))


class SparkBQL:
    # Documented engine-level plan-guard exemptions (see execute()):
    # BQL results that legitimately pass through a shape the guard flags,
    # with the boundedness argument. Empty today — every engine-emitted
    # plan is guard-clean; any future exemption must be added HERE with a
    # reason, not by turning the guard off.
    PLAN_GUARD_ALLOW: dict[str, str] = {}

    def __init__(self, spark: SparkSession, seed: int = 42,
                 plan_guard: bool | None = None):
        import os

        from bayeslite_spark.functions.sqlmath import install_math_udfs

        self.spark = spark
        self.seed = seed
        self.catalog = Catalog()
        self._backends = {}
        self._save_path = None   # last save()/open() dir, for upgrade_schema
        # BQL users compose queries dynamically (the reference's
        # duplicate-evaluation wart lived exactly there), so the engine can
        # run plans.audit.assert_scalable on every plan it emits before
        # returning it. Opt-in: ctor arg, else SPARK_GRAFT_PLAN_GUARD=1
        # (the test suite runs with it ON — round-6 verdict item 7).
        if plan_guard is None:
            plan_guard = os.environ.get(
                "SPARK_GRAFT_PLAN_GUARD", "").strip().lower() in (
                    "1", "true", "yes", "on")
        self.plan_guard = plan_guard
        install_math_udfs(spark)  # reference installs bqlmath into every bdb

    # -- persistence (the reference's .bdb file equivalent) ------------------
    def save(self, path: str) -> None:
        """Persist catalog metadata (JSON) + backend runtime state
        (parquet). Unlike the reference's single SQLite file, user DATA is
        not copied — tables re-register from their sources on open, the
        right split at 100 TB (metadata is KB; data stays where it lives)."""
        import os

        os.makedirs(f"{path}/state", exist_ok=True)
        self._save_path = path
        self.catalog.save(f"{path}/catalog.json")
        for g in self.catalog.generators.values():
            be = self.backend(g.backend)
            if hasattr(be, "save_runtime"):
                be.save_runtime(g, f"{path}/state")

    @classmethod
    def open(cls, spark: SparkSession, path: str, seed: int = 42) -> "SparkBQL":
        """Resume a saved engine: catalog + backend runtime restored;
        caller re-registers data tables (register_table) before querying."""
        eng = cls(spark, seed=seed)
        eng._save_path = path
        eng.catalog = Catalog.load(f"{path}/catalog.json")
        for g in eng.catalog.generators.values():
            be = eng.backend(g.backend)
            if hasattr(be, "load_runtime"):
                be.load_runtime(g, spark, f"{path}/state")
        return eng

    # -- tables -------------------------------------------------------------
    def register_table(self, name: str, df: DataFrame) -> None:
        self.catalog.tables[name.lower()] = df
        df.createOrReplaceTempView(name)

    def table(self, name: str) -> DataFrame:
        try:
            return self.catalog.tables[name.lower()]
        except KeyError:
            raise KeyError(f"no such table: {name}") from None

    def backend(self, name: str):
        if name not in self._backends:
            self._backends[name] = get_backend(name)
        return self._backends[name]

    # -- entry point --------------------------------------------------------
    def sql_execute(self, sql: str, bindings=None) -> DataFrame:
        """Raw SQL passthrough (reference bdb.sql_execute,
        src/bayesdb.py:284-303): same dialect rewrites and parameter
        binding as execute(), no BQL parsing."""
        if bindings is not None:
            sql = self._bind_parameters(sql, bindings)
        if "bayesdb_" in sql:
            self.refresh_metadata_views()
        return self.spark.sql(rewrite_sqlite(sql, self.seed))

    def trace(self, tracer) -> None:
        """Register a query tracer called as ``tracer(bql, bindings)`` on
        every execute (reference IBayesDBTracer / bdb.trace,
        src/bayesdb.py:305-418 — the session-long query log hook)."""
        self._tracers = getattr(self, "_tracers", [])
        self._tracers.append(tracer)

    def untrace(self, tracer) -> None:
        self._tracers = [t for t in getattr(self, "_tracers", []) if t is not tracer]

    def execute(self, bql: str, bindings=None) -> DataFrame:
        """Execute one BQL phrase. ``bindings`` is a sequence (for ``?``
        positional parameters) or a mapping (for ``:name``/``@name``/
        ``$name`` parameters), mirroring bdb.execute (reference
        src/bayesdb.py:243-282). Parameters are bound as SQL literals
        before parsing — plans are built programmatically, so there is no
        prepared-statement layer to thread them through."""
        for t in getattr(self, "_tracers", []):
            t(bql, bindings)
        if bindings is not None:
            bql = self._bind_parameters(bql, bindings)
        n = self._count_phrases(bql)
        if n == 0:
            # reference: ValueError from the API layer, not a parse error
            # (src/bayesdb.py:270-280)
            raise ValueError(f"no BQL phrase in string: {bql!r}")
        if n > 1:
            raise ValueError(f"more than one BQL phrase in string: {bql!r}")
        ast = parse_phrase(bql)
        method = getattr(self, f"_exec_{type(ast).__name__}")
        result = method(ast)
        if self.plan_guard and isinstance(result, DataFrame):
            from bayeslite_spark.plans.audit import assert_scalable

            assert_scalable(result, allow=set(self.PLAN_GUARD_ALLOW))
        return result

    @staticmethod
    def _count_phrases(bql: str) -> int:
        """Count semicolon-separated statements outside string literals."""
        count, depth, buf_nonblank, i = 0, 0, False, 0
        while i < len(bql):
            ch = bql[i]
            if ch in ("'", '"'):
                q = ch
                i += 1
                while i < len(bql):
                    if bql[i] == q:
                        if i + 1 < len(bql) and bql[i + 1] == q:
                            i += 2
                            continue
                        break
                    i += 1
                buf_nonblank = True
            elif ch in "({":
                # braces delimit WITH SCHEMA { ...; ... } blocks
                # (grammar.y pop_schema), whose semicolons are internal
                depth += 1
            elif ch in ")}":
                depth = max(0, depth - 1)
            elif ch == ";" and depth == 0:
                if buf_nonblank:
                    count += 1
                buf_nonblank = False
            elif not ch.isspace():
                buf_nonblank = True
            i += 1
        return count + (1 if buf_nonblank else 0)

    def _bind_parameters(self, bql: str, bindings) -> str:
        """Literal-substitute parameters outside string literals/comments.
        Positional ``?`` draw from a sequence in order; ``:n``/``@n``/
        ``$n`` index into a mapping (or, reference-style, ``?N`` into the
        sequence 1-based)."""
        import re

        is_map = isinstance(bindings, dict)
        # reference semantics (src/parse.py scan_var + tests/test_bql.py
        # test_parametrized): dict keys may carry their sigil and match
        # case-insensitively ({':RANK': 4, '@aGe': 40} binds :rank/@age)
        named_map = ({str(k).lstrip(":@$").lower(): v
                      for k, v in bindings.items()} if is_map else None)
        seq = list(bindings) if not is_map else None
        pos = 0
        numbered = False
        # with SEQUENCE bindings, named parameters draw positionally in
        # first-occurrence order and repeats reuse their slot — the
        # reference numbers every parameter style into ?N
        # (tests/test_bql.py:1553-1556 passes (40, 4) for '@age … ?')
        seq_named: dict[str, object] = {}
        out = []
        # split off single-quoted strings so ? / :x inside them are kept
        token_re = re.compile(r"'(?:[^']|'')*'|\?(\d+)?|[:@$]([A-Za-z_]\w*)")
        last = 0
        for m in token_re.finditer(bql):
            out.append(bql[last:m.start()])
            last = m.end()
            tok = m.group(0)
            if tok.startswith("'"):
                out.append(tok)
                continue
            if tok.startswith("?"):
                if is_map:
                    raise ValueError("positional parameter with dict bindings")
                if m.group(1) is not None:
                    idx = int(m.group(1))
                    if not 1 <= idx <= len(seq):
                        # reference validates numbered parameters against
                        # the binding count (src/compiler.py:75-143)
                        raise ValueError(
                            f"parameter ?{idx} out of range for "
                            f"{len(seq)} bindings")
                    val = seq[idx - 1]
                    numbered = True
                else:
                    if pos >= len(seq):
                        raise ValueError("too few bindings")
                    val = seq[pos]
                    pos += 1
            else:
                name = m.group(2).lower()
                if not is_map:
                    if name in seq_named:
                        val = seq_named[name]
                    else:
                        if pos >= len(seq):
                            raise ValueError("too few bindings")
                        val = seq_named[name] = seq[pos]
                        pos += 1
                else:
                    if name not in named_map:
                        raise ValueError(f"missing binding: {name}")
                    val = named_map[name]
            out.append(self._lit_sql(val))
        out.append(bql[last:])
        if not is_map and not numbered and pos != len(seq):
            # reference validates binding arity the same way
            # (src/compiler.py:75-143)
            raise ValueError(f"{len(seq)} bindings for {pos} parameters")
        return "".join(out)

    def _ok(self, msg: str) -> DataFrame:
        # every DDL path returns through here -> metadata views stay fresh
        self.refresh_metadata_views()
        return local_frame(self.spark, [(msg,)], "status string")

    def refresh_metadata_views(self) -> None:
        """Expose the catalog as queryable temp views, mirroring the
        reference's bayesdb_* SQLite tables (src/schema.py:26-104) so plain
        SELECTs can introspect populations/variables/generators/models."""
        local_frame(
            self.spark,
            [(p.id, p.name, p.table) for p in self.catalog.populations.values()],
            "id int, name string, tabname string",
        ).createOrReplaceTempView("bayesdb_population")
        # generator_id IS NULL for manifest variables; latent variables are
        # generator-scoped with negative colno (reference convention,
        # src/schema.py:74-86, src/core.py:398-414)
        vrows = [
            (p.id, None, v.colno, v.name, v.stattype)
            for p in self.catalog.populations.values()
            for v in p.variables.values()
        ]
        pop_ids = {p.name.lower(): p.id for p in self.catalog.populations.values()}
        vrows += [
            (pop_ids[g.population], g.id, lv["colno"], name, lv["stattype"])
            # peek: latents are written at CREATE before the async fit is
            # submitted, so this must not block on (or resolve) the fit
            for g in self.catalog.generators.values()
            for name, lv in (g.peek_state("latents") or {}).items()
        ]
        local_frame(
            self.spark, vrows,
            "population_id int, generator_id int, colno int, name string, stattype string",
        ).createOrReplaceTempView("bayesdb_variable")
        grows = [
            (g.id, g.name, g.population, g.backend, len(g.models))
            for g in self.catalog.generators.values()
        ]
        local_frame(
            self.spark, grows,
            "id int, name string, population string, backend string, n_models int",
        ).createOrReplaceTempView("bayesdb_generator")
        mrows = [
            (g.id, mn) for g in self.catalog.generators.values() for mn in sorted(g.models)
        ]
        local_frame(
            self.spark, mrows, "generator_id int, modelno int"
        ).createOrReplaceTempView("bayesdb_generator_model")

    # -- DDL ----------------------------------------------------------------
    def _exec_SelectPhrase(self, ast: A.SelectPhrase) -> DataFrame:
        # temp views are session-global while engines are not: re-publish
        # THIS engine's catalog before the query so bayesdb_* views always
        # reflect the executing engine
        if "bayesdb_" in ast.sql:
            self.refresh_metadata_views()
        sql = self._materialize_bql_subqueries(ast.sql)
        return self.spark.sql(rewrite_sqlite(sql, self.seed))

    def _exec_GuessSchema(self, ast: A.GuessSchema) -> DataFrame:
        from bayeslite_spark.functions.stats_queries import guess_schema

        return guess_schema(self.spark, self.table(ast.table))

    def _exec_CreateTableAs(self, ast: A.CreateTableAs) -> DataFrame:
        key = ast.name.lower()
        if key in self.catalog.tables:
            if ast.if_not_exists:
                return self._ok(f"table {ast.name} exists")
            raise BQLError(f"table {ast.name} already exists")
        df = self.execute(ast.query_sql)
        # Materialize (the reference materializes into a real table,
        # src/bql.py:79-98): cache + count freezes the contents now, so
        # later mutations of source views don't leak in.
        df = df.cache()
        df.count()
        self.register_table(ast.name, df)
        return self._ok(f"created table {ast.name}")

    def _exec_CreateTableFromCSV(self, ast: A.CreateTableFromCSV) -> DataFrame:
        key = ast.name.lower()
        if key in self.catalog.tables:
            if ast.if_not_exists:
                return self._ok(f"table {ast.name} exists")
            raise BQLError(f"table {ast.name} already exists")
        from bayeslite_spark.sources.ingest import read_csv

        self.register_table(ast.name, read_csv(self.spark, ast.path))
        return self._ok(f"created table {ast.name} from {ast.path}")

    def _exec_DropTable(self, ast: A.DropTable) -> DataFrame:
        key = ast.name.lower()
        if key not in self.catalog.tables:
            if ast.if_exists:
                return self._ok("no-op")
            raise BQLError(f"no such table: {ast.name}")
        deps = [p.name for p in self.catalog.populations.values() if p.table == key]
        if deps:
            # the reference refuses the same way (src/bql.py:113-124)
            raise BQLError(f"table {ast.name} has populations: {deps}")
        del self.catalog.tables[key]
        self.spark.catalog.dropTempView(ast.name)
        return self._ok(f"dropped table {ast.name}")

    def _exec_RenameTable(self, ast: A.RenameTable) -> DataFrame:
        key = ast.name.lower()
        msgs: list[str] = []
        # RENAME [COLUMN] old TO new: the reference parses this but always
        # refuses (src/bql.py:126-218 NotImplementedError). Here the
        # unmodeled case is supported — a pure projection rename — and the
        # modeled case refuses like the reference (model state is keyed on
        # variable names; renaming under a fitted generator is surgery).
        for old_col, new_col in ast.column_renames:
            modeled = [
                p.name for p in self.catalog.populations.values()
                if p.table == key and old_col.lower() in p.variables
            ]
            if modeled:
                raise NotImplementedError(
                    f"cannot rename column {old_col}: modeled by population(s) "
                    f"{', '.join(modeled)} (reference also refuses, src/bql.py)"
                )
            df = self.table(key)
            match = [c for c in df.columns if c.lower() == old_col.lower()]
            if not match:
                raise BQLError(f"no column {old_col} in {ast.name}")
            self.register_table(ast.name, df.withColumnRenamed(match[0], new_col))
            msgs.append(f"renamed column {old_col} to {new_col}")
        if ast.new_name is not None:
            new = ast.new_name.lower()
            if new == key:
                # rename to self (possibly case-only) is a no-op success
                # (reference: 'alter table t rename to t' / 'to T' both
                # succeed, tests/test_bql.py:1378-1381)
                msgs.append(f"renamed table {ast.name} to {ast.new_name}")
                return self._ok("; ".join(msgs))
            if new in self.catalog.tables:
                raise BQLError(f"table {ast.new_name} already exists")
            df = self.table(key)
            del self.catalog.tables[key]
            self.spark.catalog.dropTempView(ast.name)
            self.register_table(ast.new_name, df)
            # cascade into population metadata (reference src/bql.py:126-218);
            # an implicit population follows the table's name, and its
            # implicit generator follows it in turn (src/bql.py:150-166)
            for p in list(self.catalog.populations.values()):
                if p.table == key:
                    p.table = new
                    if p.implicit:
                        self._rename_population(p, ast.new_name)
            msgs.append(f"renamed table {ast.name} to {ast.new_name}")
        return self._ok("; ".join(msgs) or "no-op")

    # the eight seeded stattypes (reference src/schema.py:42-53) plus the
    # schema-level KEY/IGNORE markers (src/bql.py:826-921)
    _STATTYPES_SEEDED = frozenset({
        "boolean", "counts", "cyclic", "magnitude", "nominal", "numerical",
        "numericalranged", "unbounded_nominal",
    })

    def _exec_CreatePopulation(self, ast: A.CreatePopulation) -> DataFrame:
        # implicit form: named after the table (reference src/bql.py:360-377)
        name = ast.name if ast.name is not None else ast.table
        key = name.lower()
        if key in self.catalog.populations:
            if ast.if_not_exists:
                return self._ok(f"population {name} exists")
            raise BQLError(f"population {name} already exists")
        df = self.table(ast.table)
        pop = Population(id=self.catalog.fresh_id(), name=name, table=ast.table.lower(),
                         implicit=ast.name is None)
        declared: dict[str, str] = {}
        for c, st in ast.declarations:
            k = c.lower()
            if k in declared:
                # duplicate declaration, even case-variant (reference
                # casefolds and refuses, tests/test_core.py:180-196)
                raise BQLError(f"duplicate variable declaration: {c}")
            st_l = st.lower()
            if st_l not in self._STATTYPES_SEEDED and st_l not in ("key", "ignore"):
                # reference seeds the eight known stattypes and refuses
                # anything else (src/schema.py:42-53, tests BQLError on
                # 'multinomial')
                raise BQLError(f"invalid statistical type: {st}")
            declared[k] = st_l
        ignored = {c.lower() for c in ast.ignored}
        dup_ignored = set(declared) & ignored
        if dup_ignored:
            raise BQLError(
                f"variables both declared and ignored: {sorted(dup_ignored)}")
        colno = 0
        guessed: dict[str, str] = {}
        guess_set = {c.lower() for c in ast.guess_cols}
        if ast.guess_all or guess_set:
            from bayeslite_spark.functions.stats_queries import guess_schema

            for r in guess_schema(self.spark, df).collect():
                guessed[r.column_name.lower()] = r.stattype
        for fld in df.schema.fields:
            name = fld.name
            k = name.lower()
            if k in ignored:
                st = "ignore"
            elif k in declared:
                st = declared[k]
            elif ast.guess_all or k in guess_set:
                st = guessed.get(k, "ignore")
            else:
                continue
            colno += 1
            pop.variables[k] = Variable(name=name, stattype=st, colno=colno)
        unknown = (set(declared) | ignored) - {f.name.lower() for f in df.schema.fields}
        if unknown:
            raise BQLError(f"no such columns in {ast.table}: {sorted(unknown)}")
        self.catalog.populations[key] = pop
        return self._ok(f"created population {pop.name}")

    def _exec_DropPopulation(self, ast: A.DropPopulation) -> DataFrame:
        key = ast.name.lower()
        if key not in self.catalog.populations:
            if ast.if_exists:
                return self._ok("no-op")
            raise BQLError(f"no such population: {ast.name}")
        deps = self.catalog.generators_of(key)
        if deps:
            raise BQLError(
                f"population {ast.name} has generators: {[g.name for g in deps]}"
            )
        del self.catalog.populations[key]
        return self._ok(f"dropped population {ast.name}")

    @staticmethod
    def _parse_generator_schema(config: str | None) -> dict:
        """Generator-schema sub-DSL (reference cgpm_schema/parse.py:32-198):
        ';'-separated clauses —

          LATENT <var> <stattype>       generator-scoped latent variable
          <var> DEVIATION(<col>)        nig_normal deviation latent: the
                                        zero-mean Gaussian deviation of
                                        <col> from its latent mean
                                        (reference nig_normal.py:140-170)
          SUBSAMPLE <n>                 fit on a deterministic n-row sample
          OVERRIDE [GENERATIVE] MODEL FOR <outputs>
              [GIVEN <inputs>] [[AND] EXPOSE <var> <stattype>, ...]
              USING <foreign>[(<p>=<v>, ...)]
                                        replace the outputs' CrossCat model
                                        with a registered foreign predictor
                                        (reference grammar cgpm_schema/
                                        grammar.y:37-54)
        """
        import re as _re

        out: dict = {"latents": {}, "subsample": None, "overrides": [],
                     "deviations": {}}
        if not config:
            return out
        tok_re = _re.compile(r"[A-Za-z_][A-Za-z0-9_]*|\d+(?:\.\d+)?|\(|\)|,|=")
        for clause in config.split(";"):
            toks = tok_re.findall(clause)
            if not toks:
                continue
            pos = 0

            def peek():
                return toks[pos].upper() if pos < len(toks) else ""

            def take(*expect):
                nonlocal pos
                if expect and peek() not in expect:
                    raise BQLError(
                        f"generator schema: expected {'/'.join(expect)}, got "
                        f"{toks[pos] if pos < len(toks) else 'end'} in {clause.strip()!r}")
                pos += 1
                return toks[pos - 1]

            def name_list():
                names = [take().lower()]
                while peek() == ",":
                    take()
                    names.append(take().lower())
                return names

            def take_pair(dest):
                # bind the name BEFORE the stattype: dict[k] = v evaluates
                # the value expression first, which would swap the tokens
                k = take().lower()
                dest[k] = take().lower()

            kw = peek()
            if (len(toks) >= 2 and toks[1].upper() == "DEVIATION"
                    and kw not in ("LATENT", "SUBSAMPLE", "OVERRIDE")):
                # <var> DEVIATION(<col>)[, <var> DEVIATION(<col>)]* —
                # the nig_normal latent clause (comma-separated in the
                # reference's surface, tests/test_nig_normal.py:469-473)
                while True:
                    var = take().lower()
                    take("DEVIATION")
                    take("(")
                    out["deviations"][var] = take().lower()
                    take(")")
                    if peek() != ",":
                        break
                    take()
                if pos != len(toks):
                    raise BQLError(f"trailing tokens in {clause.strip()!r}")
            elif kw == "LATENT":
                take()
                take_pair(out["latents"])
                if pos != len(toks):
                    raise BQLError(f"trailing tokens in {clause.strip()!r}")
            elif kw == "SUBSAMPLE":
                take()
                out["subsample"] = int(take())
            elif kw == "OVERRIDE":
                take()
                if peek() == "GENERATIVE":
                    take()
                take("MODEL")
                take("FOR")
                outputs = name_list()
                inputs: list[str] = []
                expose: dict[str, str] = {}
                if peek() == "GIVEN":
                    take()
                    inputs = name_list()
                if peek() in ("AND", "EXPOSE"):
                    if peek() == "AND":
                        take()
                    take("EXPOSE")
                    take_pair(expose)
                    while peek() == ",":
                        take()
                        take_pair(expose)
                take("USING")
                fname = take().lower()
                params: dict = {}
                if peek() == "(":
                    take()
                    while peek() != ")":
                        p = take().lower()
                        take("=")
                        v = take()
                        try:
                            params[p] = float(v) if "." in v else int(v)
                        except ValueError:
                            params[p] = v
                        if peek() == ",":
                            take()
                    take(")")
                out["overrides"].append({
                    "outputs": outputs, "inputs": inputs,
                    "expose": expose, "name": fname, "params": params,
                })
            else:
                raise BQLError(
                    f"unsupported generator schema clause: {clause.strip()!r}"
                )
        return out

    @staticmethod
    def _validate_overrides(pop: Population, gen: Generator,
                            overrides: list[dict]) -> None:
        """OVERRIDE clause validation mirroring the reference's cgpm checks
        (tests/test_cgpm.py:610-645): foreign must be registered, outputs
        are modeled variables overridden at most once, inputs are not
        themselves overridden, EXPOSE names collide with nothing. Exposed
        variables become generator-scoped latents (negative colnos)."""
        from bayeslite_spark.backends.foreign import get_foreign

        out_seen: set[str] = set()
        for ov in overrides:
            get_foreign(ov["name"])  # raises on unknown foreign
            for o in ov["outputs"]:
                v = pop.variables.get(o)
                if v is None or v.stattype in ("ignore", "key"):
                    raise BQLError(f"OVERRIDE output is not a modeled variable: {o}")
                if o in out_seen:
                    raise BQLError(f"variable {o} is overridden more than once")
                out_seen.add(o)
            for i in ov["inputs"]:
                if i not in pop.variables:
                    raise BQLError(f"OVERRIDE input is not a population variable: {i}")
            for e in ov["expose"]:
                if e in gen.state["latents"] or e in pop.variables:
                    raise BQLError(f"duplicate exposed variable: {e}")
        for ov in overrides:
            for i in ov["inputs"]:
                if i in out_seen:
                    raise BQLError(
                        f"OVERRIDE input {i} is itself overridden (chains are "
                        "not supported)")
            if ov["name"] in ("linreg", "factor_analysis"):
                for c in ov["outputs"] + ov["inputs"]:
                    if pop.variables[c].stattype == "nominal":
                        raise BQLError(
                            f"{ov['name']} requires numerical variables; "
                            f"{c} is nominal")
            if ov["name"] == "factor_analysis":
                # GIVEN inputs join the joint Gaussian as extra dims and
                # evidence conditions it in closed form (foreign.py)
                if len(ov["outputs"]) + len(ov["inputs"]) < 2:
                    raise BQLError(
                        "factor_analysis needs at least 2 variables "
                        "(outputs + GIVEN inputs)")
                L = int(ov["params"].get("l", 1))
                if len(ov["expose"]) > L:
                    raise BQLError(
                        f"factor_analysis(L={L}) can expose at most {L} "
                        f"factors; got {list(ov['expose'])}")
        n_lat = len(gen.state["latents"])
        for ov in overrides:
            for e, st in ov["expose"].items():
                n_lat += 1
                gen.state["latents"][e] = {"stattype": st, "colno": -n_lat}

    def _exec_CreateGenerator(self, ast: A.CreateGenerator) -> DataFrame:
        # implicit form: named after the population (reference src/bql.py:469-484)
        name = ast.name if ast.name is not None else ast.population
        key = name.lower()
        if key in self.catalog.generators:
            if ast.if_not_exists:
                return self._ok(f"generator {name} exists")
            raise BQLError(f"generator {name} already exists")
        pop = self.catalog.population(ast.population)
        gen = Generator(
            id=self.catalog.fresh_id(), name=name, population=pop.name.lower(),
            backend=ast.backend, config=ast.config, implicit=ast.name is None,
        )
        schema = self._parse_generator_schema(ast.config)
        gen.state["subsample"] = schema["subsample"]
        # latent colnos count down from -1 (reference allocates
        # colno = min(-1, min(colno)-1), src/core.py:398-414)
        gen.state["latents"] = {
            name: {"stattype": st, "colno": -(i + 1)}
            for i, (name, st) in enumerate(schema["latents"].items())
        }
        if schema["deviations"]:
            # <var> DEVIATION(<col>): a nig_normal-only latent — the
            # zero-mean Gaussian deviation of <col> from its latent mean
            # (reference src/backends/nig_normal.py:140-170; other
            # backends reject the clause there too)
            if ast.backend != "nig_normal":
                raise BQLError(
                    "DEVIATION latents require a nig_normal generator, "
                    f"not backend {ast.backend!r}")
            for lat, obs in schema["deviations"].items():
                v = pop.variables.get(obs)
                if v is None or v.stattype in ("ignore", "key", "nominal"):
                    raise BQLError(
                        f"DEVIATION({obs}) is not a modeled numerical "
                        "variable")
                if lat in gen.state["latents"] or lat in pop.variables:
                    raise BQLError(f"duplicate latent variable: {lat}")
                gen.state["latents"][lat] = {
                    "stattype": "numerical",
                    "colno": -(len(gen.state["latents"]) + 1)}
        gen.state["deviations"] = schema["deviations"]
        if schema["overrides"]:
            if ast.backend != "crosscat_lite":
                # OVERRIDE is a cgpm-schema construct in the reference too;
                # other backends never parse it (cgpm_schema/parse.py)
                raise BQLError(
                    "OVERRIDE GENERATIVE MODEL requires a CrossCat-class "
                    f"generator, not backend {ast.backend!r}")
            self._validate_overrides(pop, gen, schema["overrides"])
        gen.state["overrides"] = schema["overrides"]
        self.backend(ast.backend).create_generator(self.table(pop.table), pop, gen)
        if not getattr(self, "lazy_model_fit", False):
            # resolve the asynchronous fit now so errors (e.g. a nominal
            # exceeding the category guardrail) surface at CREATE time,
            # matching the reference (cgpm_backend.py:169-185). Set
            # ``eng.lazy_model_fit = True`` to overlap fits across
            # statements; the scan then resolves on first state access.
            try:
                gen.state
            except Exception:
                from bayeslite_spark.catalog import discard_fit

                discard_fit(gen)
                raise
        self.catalog.generators[key] = gen
        return self._ok(f"created generator {name}")

    def _exec_AlterGenerator(self, ast: A.AlterGenerator) -> DataFrame:
        """ALTER GENERATOR: rename (catalog-only, reference
        src/bql.py:532-544 — modelnos forbidden with RENAME) and generic
        alter-program commands handed to the backend interpreter
        (src/bql.py:564-570)."""
        key = ast.name.lower()
        gen = self.catalog.generator(key)
        done = []
        if ast.rename_to is not None:
            if ast.modelnos is not None:
                raise BQLError("ALTER GENERATOR ... MODELS cannot RENAME")
            new = ast.rename_to.lower()
            if new == key:
                # rename to self / case-variant: no-op success (reference
                # tests/test_bql.py:1392-1399)
                gen.name = ast.rename_to
            elif new in self.catalog.generators:
                raise BQLError(f"generator {ast.rename_to} already exists")
            else:
                del self.catalog.generators[key]
                gen.name = ast.rename_to
                self.catalog.generators[new] = gen
            done.append(f"renamed to {ast.rename_to}")
        if ast.commands:
            pop = self.catalog.population(gen.population)
            if ast.modelnos is not None:
                missing = [m for m in ast.modelnos if m not in gen.models]
                if missing:
                    raise BQLError(f"no such models: {missing}")
            self.backend(gen.backend).alter(
                self.table(pop.table), pop, gen, ast.commands, self.seed,
                modelnos=ast.modelnos,
            )
            done.append(f"applied {len(ast.commands)} alteration(s)")
        return self._ok(f"altered generator {ast.name}: " + "; ".join(done or ["no-op"]))

    def _exec_DropGenerator(self, ast: A.DropGenerator) -> DataFrame:
        key = ast.name.lower()
        if key not in self.catalog.generators:
            if ast.if_exists:
                return self._ok("no-op")
            raise BQLError(f"no such generator: {ast.name}")
        from bayeslite_spark.catalog import discard_fit

        discard_fit(self.catalog.generators[key])
        del self.catalog.generators[key]
        return self._ok(f"dropped generator {ast.name}")

    def _exec_InitializeModels(self, ast: A.InitializeModels) -> DataFrame:
        gen = self.catalog.generator(ast.generator)
        existing = sorted(set(range(ast.n_models)) & set(gen.models))
        if existing and not ast.if_not_exists:
            # reference: INITIALIZE without IF NOT EXISTS refuses to touch
            # existing models (src/bql.py:678-693, tests/test_bql.py:1356-63)
            raise BQLError(
                f"models already initialized for {ast.generator}: {existing}")
        if len(existing) == ast.n_models:
            return self._ok(f"models already initialized for {ast.generator}")
        # Initialization is deterministic per (engine seed, generator,
        # modelno), so re-running it and restoring the pre-existing entries
        # creates exactly the missing models while preserving any ANALYZE
        # progress on the others (IF NOT EXISTS semantics).
        saved = {m: gen.models[m] for m in existing}
        self.backend(gen.backend).initialize_models(gen, ast.n_models, self.seed)
        gen.models.update(saved)
        return self._ok(f"initialized {ast.n_models} models for {ast.generator}")

    def _exec_AnalyzeModels(self, ast: A.AnalyzeModels) -> DataFrame:
        gen = self.catalog.generator(ast.generator)
        pop = self.catalog.population(gen.population)
        if ast.optimized == "loom":
            # reference error parity (cgpm_backend.py:632-637): loom runs
            # whole-state transitions only
            if ast.variables or ast.skip:
                raise BQLError("No VARIABLES or SKIP in Loom.")
            if ast.rows:
                raise BQLError("No ROWS in Loom.")
        variables = ast.variables
        if ast.skip:
            # SKIP c == VARIABLES (all modeled minus c), reference semantics
            excl = {c.lower() for c in ast.skip}
            variables = [v.name for v in pop.modeled_variables()
                         if v.name.lower() not in excl]
        be = self.backend(gen.backend)
        be.check_analyze(ast)
        df = self.table(pop.table)
        if ast.seconds is None:
            be.analyze_models(
                df, pop, gen, ast.iterations, self.seed,
                modelnos=ast.modelnos, variables=variables,
                subproblems=ast.subproblems, rows=ast.rows,
            )
            return self._ok(f"analyzed {ast.generator} for {ast.iterations} iterations")
        # Time-bounded (FOR n SECONDS|MINUTES [OR m ITERATIONS]): run
        # one-sweep jobs until a bound hits. CHECKPOINT is parsed and
        # accepted: the reference checkpoints to guard a long SQLite
        # transaction; here model state lives in the driver catalog and is
        # durable after every sweep, so every sweep IS a checkpoint.
        import time as _time

        t0 = _time.time()
        sweeps = 0
        while True:
            be.analyze_models(
                df, pop, gen, 1, self.seed + sweeps,
                modelnos=ast.modelnos, variables=variables,
                subproblems=ast.subproblems, rows=ast.rows,
            )
            sweeps += 1
            if ast.iterations is not None and sweeps >= ast.iterations:
                break
            if _time.time() - t0 >= ast.seconds:
                break
        return self._ok(f"analyzed {ast.generator}: {sweeps} sweeps in "
                        f"{_time.time() - t0:.1f}s")

    def _exec_DropModels(self, ast: A.DropModels) -> DataFrame:
        gen = self.catalog.generator(ast.generator)
        if ast.modelnos is not None and not self.backend(gen.backend).drops_model_subsets:
            # reference loom_backend.py:392-395
            raise BQLError(
                f"{gen.backend} cannot drop specific model numbers.")
        if ast.modelnos is None:
            gen.models.clear()
        else:
            missing = sorted(set(ast.modelnos) - set(gen.models))
            if missing:
                # reference: DROP MODELS with an explicit list refuses
                # unknown modelnos (tests/test_bql.py:1365-1366)
                raise BQLError(
                    f"no such models in {ast.generator}: {missing}")
            for mn in ast.modelnos:
                gen.models.pop(mn)
        return self._ok(f"dropped models from {ast.generator}")

    # -- helpers ------------------------------------------------------------
    def _pop_generators(self, pop: Population, generator: str | None) -> list[Generator]:
        """May be empty: observed-data estimators (CORRELATION) need no
        model; model estimators check inside _estimator_constant."""
        if generator is not None:
            return [self.catalog.generator(generator)]
        return self.catalog.generators_of(pop.name)

    @staticmethod
    def _restrict_models(gens: list[Generator], modelnos: list[int] | None) -> list[Generator]:
        """USING MODELS m,...: shallow generator views holding only the
        selected models (reference threads modelnos into every bql_*
        call; state/ids are shared so cached backend runtime still applies)."""
        if not modelnos:
            return gens
        out = []
        for g in gens:
            sub = {k: v for k, v in g.models.items() if k in set(modelnos)}
            missing = set(modelnos) - set(sub)
            if missing:
                raise BQLError(f"generator {g.name} has no models {sorted(missing)}")
            view = Generator(id=g.id, name=g.name, population=g.population,
                             backend=g.backend, config=g.config,
                             models=sub, state=g.state)
            # share the ORIGINAL's runtime-cache key: the view must read the
            # same cached assignment/encoded frames (rt_key is per-object,
            # unlike the shared catalog id)
            view.__dict__["_rt_key"] = g.rt_key
            out.append(view)
        return out

    @staticmethod
    def _context_variable(pop: Population, gens: list[Generator],
                          name: str) -> str:
        """Validate a SIMILARITY/RELEVANCE context variable at compile time
        (reference raises BQLError, src/compiler.py:665-668; without this
        the backend surfaces a bare KeyError mid-plan). Generator-scoped
        LATENT variables are legal contexts (reference core.py:398-414
        negative colnos)."""
        key = name.lower()
        if any(v.name.lower() == key for v in pop.variables.values()):
            return key
        for g in gens:
            lat = (g.state.get("latents") or {}) if g.state else {}
            if any(ln.lower() == key for ln in lat):
                return key
            peek = getattr(g, "peek_state", None)
            if peek and any(
                    ln.lower() == key for ln in (peek("latents") or {})):
                return key
        raise BQLError(
            f"No such variable in population {pop.name!r}: {name!r}")

    @staticmethod
    def _need_models(gens: list[Generator], kind: str) -> list[Generator]:
        if not gens or not any(g.models for g in gens):
            raise BQLError(f"estimator {kind} requires an analyzed generator")
        return [g for g in gens if g.models]

    def _eval_scalar(self, sql: str):
        """Driver-side evaluation of a literal/scalar SQL expression (the
        reference evaluates these at compile time too, src/compiler.py:679).
        Plain literals fold here; only expressions cost a Spark job."""
        v = _fold_literal(sql)
        if v is not _EMPTY:
            return v
        sql = self._materialize_bql_subqueries(sql)
        return self.spark.sql(f"SELECT {sql} AS v").collect()[0]["v"]

    def _eval_scalars_batch(self, exprs: list[str]) -> list:
        """Evaluate many scalar SQL expressions in ONE Spark job (avoids a
        per-expression driver round-trip when filling estimator arithmetic
        across model/pair rows)."""
        if not exprs:
            return []
        exprs = [self._materialize_bql_subqueries(e) for e in exprs]
        sel = ", ".join(f"({e}) AS __v{i}" for i, e in enumerate(exprs))
        row = self.spark.sql(f"SELECT {sel}").collect()[0]
        return [row[f"__v{i}"] for i in range(len(exprs))]

    _SUB_N = 0
    _SUBQ_KW_RE = None  # compiled lazily

    def _materialize_bql_subqueries(self, sql: str) -> str:
        """Execute embedded BQL subqueries — ``(SIMULATE …)``,
        ``(ESTIMATE …)``, ``(INFER …)`` in any expression or FROM position
        — and splice in ``(SELECT * FROM <temp view>)``.

        The reference admits any query form as a subquery (``ExpSub``,
        src/ast.py:345; grammar ``select_table ::= query``) and its
        winders materialize SIMULATE into a temp table before the outer
        SQL runs (tests/test_bql.py test_nested_simulate). Spark's parser
        knows nothing of BQL, so the same two-phase structure applies:
        run the inner query eagerly, publish it as a temp view, and let
        the outer plan treat it as a scalar subquery / derived table.
        ``t.(query)`` projection subqueries are left alone (dot-prefixed;
        they are column-name expanders handled at parse time)."""
        import re as _re

        if SparkBQL._SUBQ_KW_RE is None:
            SparkBQL._SUBQ_KW_RE = _re.compile(r"(simulate|estimate|infer)\b", _re.I)
        if not SparkBQL._SUBQ_KW_RE.search(sql):
            return sql
        out: list[str] = []
        i, n = 0, len(sql)
        while i < n:
            ch = sql[i]
            if ch in ("'", '"'):
                j = i + 1
                while j < n:
                    if sql[j] == ch:
                        if j + 1 < n and sql[j + 1] == ch:  # '' escape
                            j += 2
                            continue
                        break
                    j += 1
                out.append(sql[i:j + 1])
                i = j + 1
                continue
            if ch == "(":
                prev = ""
                for chunk in reversed(out):
                    stripped = chunk.rstrip()
                    if stripped:
                        prev = stripped[-1]
                        break
                j = i + 1
                while j < n and sql[j].isspace():
                    j += 1
                m = SparkBQL._SUBQ_KW_RE.match(sql, j)
                if m and prev != ".":
                    k, depth = i, 0
                    while k < n:
                        c = sql[k]
                        if c in ("'", '"'):
                            k += 1
                            while k < n and sql[k] != c:
                                k += 1
                        elif c == "(":
                            depth += 1
                        elif c == ")":
                            depth -= 1
                            if depth == 0:
                                break
                        k += 1
                    if depth != 0:
                        raise BQLError(f"unbalanced parentheses in {sql!r}")
                    inner = sql[i + 1:k]
                    # only a real BQL query phrase is materialized; e.g. a
                    # column named "estimate" in ``(estimate + 1)`` is not
                    if self._is_bql_query(inner):
                        df = self.execute(inner)
                        SparkBQL._SUB_N += 1
                        view = f"__bql_sub_{SparkBQL._SUB_N}"
                        df.createOrReplaceTempView(view)
                        out.append(f"(SELECT * FROM {view})")
                        i = k + 1
                        continue
            out.append(ch)
            i += 1
        return "".join(out)

    @staticmethod
    def _is_bql_query(text: str) -> bool:
        from bayeslite_spark.parser.parser import parse_phrase

        try:
            ast = parse_phrase(text.strip().rstrip(";"))
        except Exception:
            return False
        return type(ast).__name__ in (
            "Simulate", "SimulateModels", "Estimate", "EstimateBy",
            "EstimateColumns", "EstimatePairwiseRows",
            "Infer", "InferExplicit",
        )

    def _fill_mixed(self, mixed: A.MixedSQL, value_of) -> str:
        """Substitute estimator placeholders in a MixedSQL template with SQL
        literals; ``value_of(est)`` supplies each estimator's value."""
        tmpl = mixed.template
        for ph, est in mixed.estimators.items():
            tmpl = tmpl.replace(ph, self._lit_sql(value_of(est)))
        return tmpl

    def _mean_over_generators(self, gens: list[Generator], fn) -> float:
        return float(np.mean([fn(g) for g in gens]))

    def _fill_estimators(self, df: DataFrame, pop: Population,
                         gens: list[Generator], tmpl: str, ests: dict,
                         hidden: dict, prefix: str) -> tuple[DataFrame, str]:
        """Substitute estimator placeholders in a SQL template within a
        ROW context: row-context estimators become per-row columns
        (predictive probability = vectorized UDF via ``hidden``;
        relevance / TO-only similarity / row-valued density = equi-joins
        applied to ``df``), everything else folds to a constant literal.
        Returns the (possibly joined) df and the filled template."""
        for ph, est in ests.items():
            tag = f"{prefix}{ph.strip('_')}"
            if est.kind == "predictive_probability":
                uph = f"__{tag}__"
                hidden[uph] = self._predictive_probability_col(df, pop, gens, est)
                tmpl = tmpl.replace(ph, f"`{uph}`")
            elif (est.kind == "predictive_relevance"
                    and est.targets["of"] is None):
                df, _, cname = self._relevance_join(df, pop, gens, est, tag)
                tmpl = tmpl.replace(ph, f"`{cname}`")
            elif (est.kind == "similarity"
                    and est.targets["of"] is None
                    and est.targets["to"] is not None):
                df, _, cname = self._similarity_join(df, pop, gens, est, tag)
                tmpl = tmpl.replace(ph, f"`{cname}`")
            elif (est.kind == "probability_density"
                    and self._density_row_dependent(est, df)):
                df, _, cname = self._density_row_join(df, pop, gens, est, tag)
                tmpl = tmpl.replace(ph, f"`{cname}`")
            else:
                tmpl = tmpl.replace(
                    ph, self._lit_sql(self._estimator_constant(est, pop, gens)))
        return df, tmpl

    # -- estimator scalar computation (population constants) ----------------
    def _estimator_constant(self, est: A.EstimatorCall, pop: Population,
                            gens: list[Generator]):
        kind = est.kind
        if kind == "probability_density":
            gens = self._need_models(gens, kind)
            targets = [(c.lower(), self._eval_scalar(v)) for c, v in est.targets["targets"]]
            givens = [(c.lower(), self._eval_scalar(v)) for c, v in est.targets["givens"]]
            lps = []
            for g in gens:
                be = self.backend(g.backend)
                lps.append(logmeanexp(be.logpdf_joint_per_model(g, targets, givens)))
            return math.exp(logmeanexp(lps))
        if kind == "dependence_probability":
            gens = self._need_models(gens, kind)
            if est.targets.get("col0") is None or est.targets.get("col1") is None:
                raise BQLError(f"{kind} needs both columns fixed in this context")
            c0, c1 = est.targets["col0"].lower(), est.targets["col1"].lower()
            return self._mean_over_generators(
                gens, lambda g: self.backend(g.backend).column_dependence_probability(g, c0, c1)
            )
        if kind == "mutual_information":
            gens = self._need_models(gens, kind)
            ns = self._ns(est.targets.get("nsamples"))
            if (not (est.targets.get("cols0") or est.targets.get("col0"))
                    or not (est.targets.get("cols1") or est.targets.get("col1"))):
                raise BQLError(f"{kind} needs both columns fixed in this context")
            cols0 = [c.lower() for c in (est.targets.get("cols0") or [est.targets["col0"]])]
            cols1 = [c.lower() for c in (est.targets.get("cols1") or [est.targets["col1"]])]
            constraints = [
                (c.lower(), None if v is None else self._eval_scalar(v))
                for c, v in (est.targets.get("constraints") or [])
            ]
            if len(cols0) == 1 and len(cols1) == 1 and not constraints:
                return self._mean_over_generators(
                    gens,
                    lambda g: self.backend(g.backend).column_mutual_information(
                        g, cols0[0], cols1[0], ns, self.seed
                    ),
                )
            # column-set / conditional form (grammar.y:647-677)
            return self._mean_over_generators(
                gens,
                lambda g: self.backend(g.backend).column_mutual_information_set(
                    g, cols0, cols1, constraints, ns, self.seed
                ),
            )
        if kind in ("correlation", "correlation_pvalue"):
            c0, c1 = est.targets["col0"], est.targets["col1"]
            if c0 is None or c1 is None:
                # reference: 'Need both columns fixed' outside a COLUMNS
                # OF / PAIRWISE context (tests/test_bql.py:605-620)
                raise BQLError(f"{kind} needs both columns fixed in this context")
            df = self.table(pop.table)
            st0, st1 = pop.stattype_of(c0), pop.stattype_of(c1)
            if kind == "correlation":
                row = obs_stats.correlation(df, c0, st0, c1, st1).collect()[0]
                return float(row["value"]) if row["value"] is not None else None
            return obs_stats.correlation_pvalue(df, c0, st0, c1, st1)
        if kind == "similarity":
            gens = self._need_models(gens, kind)
            ctx = self._context_variable(pop, gens, est.targets["context"])
            of_expr, to_expr = est.targets["of"], est.targets["to"]
            if of_expr is None or to_expr is None:
                raise BQLError("constant SIMILARITY needs OF (...) and TO (...)")
            key0 = self._resolve_rowkey(pop, of_expr)
            key1 = self._resolve_rowkey(pop, to_expr)
            vals = []
            for g in gens:
                be = self.backend(g.backend)
                vals.append(be.row_similarity_two(g, ctx, key0, key1))
            return float(np.mean(vals))
        if kind == "probability_of":
            gens = self._need_models(gens, kind)
            inner: A.EstimatorCall = est.targets["inner"]
            cmp_tail: str = est.targets["cmp"]
            vals = [
                self._per_model_value(self.backend(g.backend), g, mn, inner)
                for g in gens for mn in sorted(g.models)
            ]
            if not vals:
                return float("nan")
            # ONE Spark job for all model comparisons, not one per model
            oks = self._eval_scalars_batch(
                [f"CAST({self._lit_sql(v)} AS DOUBLE) {cmp_tail}" for v in vals]
            )
            return sum(1 for ok in oks if ok) / len(vals)
        if kind == "predictive_relevance":
            gens = self._need_models(gens, kind)
            ctx = self._context_variable(pop, gens, est.targets["context"])
            if est.targets["of"] is None:
                raise BQLError("constant PREDICTIVE RELEVANCE needs OF (...)")
            target = self._resolve_rowkey(pop, est.targets["of"])
            existing = (self._resolve_rowkeys(pop, est.targets["existing"])
                        if est.targets["existing"] is not None else [])
            hypo = [
                {c.lower(): self._eval_scalar(v) for c, v in row}
                for row in est.targets["hypothetical"]
            ]
            vals = []
            for g in gens:
                be = self.backend(g.backend)
                vals.append(be.predictive_relevance(g, ctx, target, existing, hypo))
            return float(np.mean(vals))
        if kind == "predict":
            # reference: PREDICT is allowed only inside INFER
            # (tests/test_bql.py:625-629 expects BQLError)
            raise BQLError("PREDICT is allowed only in INFER queries")
        # reference: row functions in a constant context are a semantic
        # error (BQLCompiler_Const, src/compiler.py:1079-1102;
        # tests/test_bql.py:2439-2447 expects BQLError)
        raise BQLError(f"estimator {kind} not valid in this context")

    def _ns(self, v):
        """nsamples values may be raw expression text (``USING (1+2)
        SAMPLES`` — the reference compiles nsamples as an expression,
        src/compiler.py:682): evaluate driver-side to an int."""
        if v is None or isinstance(v, int):
            return v
        return int(self._eval_scalar(v))

    def _expr(self, sql: str) -> Column:
        """Raw expression text -> Column, through the SQLite-dialect
        rewrites (GLOB, bql_rand; parser/dialect.py)."""
        return F.expr(rewrite_sqlite(sql, self.seed))

    _EST_KW_RE = None  # compiled lazily below

    def _parse_mixed_clause(self, text: str):
        """Raw WHERE/ORDER BY clause text -> (sql_template, {ph: EstimatorCall}).

        The reference compiles estimators to ordinary scalar functions, so
        they nest freely in ANY expression position, including WHERE
        (src/compiler.py:1895-1940). Detect estimator keywords and re-parse
        the clause through the select-item machinery; plain SQL passes
        through untouched."""
        import re as _re

        if SparkBQL._EST_KW_RE is None:
            SparkBQL._EST_KW_RE = _re.compile(
                r"\b(PREDICTIVE\s+(PROBABILITY|RELEVANCE)|"
                r"PROBABILITY\s+DENSITY|"
                r"DEPENDENCE\s+PROBABILITY|MUTUAL\s+INFORMATION|"
                r"CORRELATION|SIMILARITY\b)", _re.IGNORECASE)
        if not SparkBQL._EST_KW_RE.search(text):
            return text, {}
        from bayeslite_spark.parser.parser import Parser

        try:
            expr = Parser(text).parse_select_item(set()).expr
        except SyntaxError:
            # keyword matched inside a string literal / non-estimator SQL
            # ("WHERE name LIKE '%correlation%'"): not an estimator clause
            return text, {}
        if isinstance(expr, A.RawSQL):
            return expr.sql, {}
        if isinstance(expr, A.MixedSQL):
            return expr.template, dict(expr.estimators)
        if isinstance(expr, A.EstimatorCall):
            return "__estw__", {"__estw__": expr}
        return text, {}

    _GRP_N = 0

    def _group_project(self, out: DataFrame, group_by: str) -> DataFrame:
        """GROUP BY [HAVING] over a finished projection (INFER / columns
        contexts). Spark requires every projected column to be grouped or
        aggregated — stricter than the reference's SQLite, which picks an
        arbitrary row per group (documented divergence, README)."""
        SparkBQL._GRP_N += 1
        tmp = f"__bql_grp_{SparkBQL._GRP_N}"
        out.createOrReplaceTempView(tmp)
        cols = ", ".join(f"`{c}`" for c in out.columns)
        return self.spark.sql(f"SELECT {cols} FROM {tmp} GROUP BY {group_by}")

    @staticmethod
    def _split_order(order_by: str) -> list[tuple[str, str]]:
        """'e1 DESC, e2' -> [(e1, 'desc'), (e2, 'asc')] (top-level commas)."""
        parts, depth, cur = [], 0, []
        for ch in order_by:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            if ch == "," and depth == 0:
                parts.append("".join(cur))
                cur = []
            else:
                cur.append(ch)
        parts.append("".join(cur))
        out = []
        for p in parts:
            p = p.strip()
            up = p.upper()
            if up.endswith(" DESC"):
                out.append((p[:-5].strip(), "desc"))
            elif up.endswith(" ASC"):
                out.append((p[:-4].strip(), "asc"))
            else:
                out.append((p, "asc"))
        return out

    @staticmethod
    def _order_cols(order_by: str) -> list[Column]:
        """Parse 'e1 [ASC|DESC], e2, ...' (top-level commas only)."""
        parts, depth, cur = [], 0, []
        for ch in order_by:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            if ch == "," and depth == 0:
                parts.append("".join(cur))
                cur = []
            else:
                cur.append(ch)
        parts.append("".join(cur))
        cols = []
        for p in parts:
            p = p.strip()
            up = p.upper()
            if up.endswith(" DESC"):
                cols.append(F.expr(p[:-5].strip()).desc())
            elif up.endswith(" ASC"):
                cols.append(F.expr(p[:-4].strip()).asc())
            else:
                cols.append(F.expr(p))
        return cols

    def _item_name(self, item: A.SelectItem, idx: int) -> str:
        if item.alias:
            return item.alias
        if isinstance(item.expr, A.RawSQL):
            return item.expr.sql if item.expr.sql.isidentifier() else f"c{idx}"
        if isinstance(item.expr, (A.ProjectionSub, A.MixedSQL)):
            return f"c{idx}"
        return item.expr.kind

    # -- ESTIMATE ... BY pop -------------------------------------------------
    def _exec_EstimateBy(self, ast: A.EstimateBy) -> DataFrame:
        pop = self.catalog.population(ast.population)
        gens = self._restrict_models(self._pop_generators(pop, ast.generator), ast.modelnos)
        names, vals = [], []
        for i, item in enumerate(ast.items):
            names.append(self._item_name(item, i))
            if isinstance(item.expr, A.EstimatorCall):
                vals.append(self._estimator_constant(item.expr, pop, gens))
            elif isinstance(item.expr, A.MixedSQL):
                filled = self._fill_mixed(
                    item.expr, lambda est: self._estimator_constant(est, pop, gens)
                )
                vals.append(self._eval_scalar(filled))
            else:
                vals.append(self._eval_scalar(item.expr.sql))
        # an inline VALUES table is a local relation: no job to collect
        row = ", ".join(self._lit_sql(v) for v in vals)
        cols = ", ".join(f"`{n}`" for n in names)
        return self.spark.sql(f"SELECT * FROM VALUES ({row}) AS t({cols})")

    @staticmethod
    def _lit_sql(v) -> str:
        if v is None:
            return "CAST(NULL AS DOUBLE)"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, (int, float)):
            if isinstance(v, float) and math.isnan(v):
                return "CAST('NaN' AS DOUBLE)"
            if isinstance(v, float) and math.isinf(v):
                return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
            # bare decimal literals parse as DECIMAL in Spark SQL; force DOUBLE
            return f"CAST({float(v)!r} AS DOUBLE)" if isinstance(v, float) else str(v)
        s = str(v).replace("'", "''")
        return f"'{s}'"

    # -- ESTIMATE ... FROM pop (row context) ---------------------------------
    def _rewrite_ast_rowids(self, ast, pop: Population, df: DataFrame) -> None:
        """Map ``rowid``/``_rowid_``/``oid`` tokens in select items, WHERE,
        and ORDER BY to the row-identity column (reference treats them as
        first-class row tokens in any population context,
        src/schema.py:34-40, src/compiler.py:1149). A real user column named
        ``rowid`` shadows the token, as in SQLite."""
        lower = {c.lower() for c in df.columns}
        if "rowid" in lower or "oid" in lower:
            return
        key = "_rowid_" if "_rowid_" in df.columns else self._row_keycol(pop)

        def rw(s: str) -> str:
            return self._rewrite_rowid_tokens(s, key)

        for item in ast.items:
            expr = getattr(item, "expr", None)
            if isinstance(expr, A.RawSQL) and expr.sql != "*":
                bare = expr.sql.strip()
                expr.sql = rw(expr.sql)
                if (expr.sql != bare and item.alias is None
                        and bare.lower() in ("rowid", "_rowid_", "oid")):
                    # keep the reference's output column name for a bare
                    # row token ('infer explicit rowid ...' yields "rowid")
                    item.alias = bare
            elif isinstance(expr, A.MixedSQL):
                expr.template = rw(expr.template)
        if getattr(ast, "where", None):
            ast.where = rw(ast.where)
        if getattr(ast, "order_by", None):
            ast.order_by = rw(ast.order_by)
        if getattr(ast, "group_by", None):
            ast.group_by = rw(ast.group_by)

    def _exec_Estimate(self, ast: A.Estimate) -> DataFrame:
        pop = self.catalog.population(ast.population)
        gens = self._restrict_models(self._pop_generators(pop, ast.generator), ast.modelnos)
        df = self.table(pop.table)
        self._rewrite_ast_rowids(ast, pop, df)
        latents = {n for g in gens for n in (g.state.get("latents") or {})}
        if ast.distinct or ast.group_by:
            return self._estimate_sql_path(ast, pop, gens, df, latents)
        cols: list[Column] = []
        hidden: dict[str, Column] = {}
        for i, item in enumerate(ast.items):
            name = self._item_name(item, i)
            if (isinstance(item.expr, A.RawSQL)
                    and item.expr.sql.strip().lower() in latents):
                # latent variables are never present in the base table; they
                # scan as NULL (reference cgpm_backend.py:1027-1030)
                cols.append(F.lit(None).cast("double").alias(name))
                continue
            if (isinstance(item.expr, A.EstimatorCall)
                    and item.expr.kind == "predictive_probability"
                    and item.expr.targets["column"].lower() in latents):
                # target value is the row's scan of the latent = NULL; NULL
                # targets are dropped, all-NULL -> NULL (src/bqlfn.py:459-486)
                cols.append(F.lit(None).cast("double").alias(name))
                continue
            if isinstance(item.expr, A.MixedSQL):
                # estimator-in-arithmetic: constants fold to literals; the
                # row-context estimators become hidden/joined columns the
                # template references by placeholder name. Placeholders
                # are item-local (__est0__ restarts per item), so namespace
                # them by item index before putting them in the shared dict.
                df, tmpl = self._fill_estimators(
                    df, pop, gens, item.expr.template, item.expr.estimators,
                    hidden, f"i{i}")
                cols.append(F.expr(tmpl).alias(name))
                continue
            if isinstance(item.expr, A.ProjectionSub):
                # two-phase compile: run the subquery now, take its first
                # column's strings as projected column names (reference
                # subquery_columns, src/compiler.py:604-617)
                sub = self.execute(item.expr.query)
                names = [str(r[0]) for r in sub.collect()]
                cols.extend(F.col(n) for n in names)
                continue
            if isinstance(item.expr, A.RawSQL):
                if item.expr.sql == "*":
                    cols.extend(F.col(c) for c in df.columns)
                    continue
                cols.append(F.expr(item.expr.sql).alias(name))
            elif (item.expr.kind == "predictive_relevance"
                    and item.expr.targets["of"] is None):
                # row-context form: relevance of EACH row to the query set;
                # per-(model, cluster) weights broadcast-join against the
                # assignment table (backend relevance_table)
                df, col, _ = self._relevance_join(df, pop, gens, item.expr, f"r{i}")
                cols.append(col.alias(name))
            elif (item.expr.kind == "similarity"
                    and item.expr.targets["of"] is None
                    and item.expr.targets["to"] is not None):
                # row-context SIMILARITY TO (expr): OF defaults to each
                # scanned row (reference BQLCompiler_1Row keys the first
                # argument on _rowid_, src/compiler.py:1340-1353;
                # bql2sql fixture tests/test_bql.py:554-558)
                df, col, _ = self._similarity_join(df, pop, gens, item.expr, f"s{i}")
                cols.append(col.alias(name))
            elif (item.expr.kind == "probability_density"
                    and self._density_row_dependent(item.expr, df)):
                # value expressions referencing the scanned row (reference
                # compiles the expression into bql_pdf_joint's argument and
                # evaluates per row, tests/test_bql.py:2655-2663)
                df, col, _ = self._density_row_join(df, pop, gens, item.expr, f"d{i}")
                cols.append(col.alias(name))
            elif item.expr.kind == "predictive_probability":
                cols.append(
                    self._predictive_probability_col(df, pop, gens, item.expr).alias(name)
                )
            elif item.expr.kind == "predict":
                # Row-independent backends predict the same value for every
                # row; emitted as a broadcast scalar column.
                val = self._estimator_constant(item.expr, pop, gens)
                cols.append(F.lit(val).alias(name))
            else:
                val = self._estimator_constant(item.expr, pop, gens)
                cols.append(F.lit(val).alias(name))
        where_sql = ast.where
        if where_sql:
            where_sql, wests = self._parse_mixed_clause(where_sql)
            df, where_sql = self._fill_estimators(
                df, pop, gens, where_sql, wests, hidden, "w")
        # estimators in ORDER BY become extra hidden projection columns,
        # sorted on and dropped after (reference treats them as ordinary
        # scalar expressions, src/compiler.py:300-315); joins they need
        # must land on df BEFORE the filter below derives src from it
        order_specs: list[tuple[str, str]] = []
        order_tmp: list[str] = []
        if ast.order_by:
            for k, (expr_text, direction) in enumerate(self._split_order(ast.order_by)):
                tmpl, oests = self._parse_mixed_clause(expr_text)
                for ph, oest in oests.items():
                    col = None
                    if oest.kind == "predictive_probability":
                        col = self._predictive_probability_col(df, pop, gens, oest)
                    elif (oest.kind == "predictive_relevance"
                            and oest.targets["of"] is None):
                        df, col, _ = self._relevance_join(
                            df, pop, gens, oest, f"o{k}{ph.strip('_')}")
                    elif (oest.kind == "similarity"
                            and oest.targets["of"] is None
                            and oest.targets["to"] is not None):
                        df, col, _ = self._similarity_join(
                            df, pop, gens, oest, f"o{k}{ph.strip('_')}")
                    elif (oest.kind == "probability_density"
                            and self._density_row_dependent(oest, df)):
                        df, col, _ = self._density_row_join(
                            df, pop, gens, oest, f"o{k}{ph.strip('_')}")
                    if col is None:
                        tmpl = tmpl.replace(
                            ph, self._lit_sql(self._estimator_constant(oest, pop, gens)))
                        continue
                    tag = f"__ord_{k}_{ph.strip('_')}"
                    cols.append(col.alias(tag))
                    order_tmp.append(tag)
                    tmpl = tmpl.replace(ph, f"`{tag}`")
                order_specs.append((tmpl, direction))
        if hidden:
            df = df.withColumns(hidden)
        # WHERE resolves against the base table first (SQLite scoping: WHERE
        # never sees select aliases); the post-projection fallback keeps
        # alias-referencing WHEREs working
        src, pre_filtered = df, False
        if where_sql:
            try:
                src = df.filter(self._expr(where_sql))
                pre_filtered = True
            except Exception:  # noqa: BLE001 — unresolved column: try aliases
                pass
        out = src.select(*cols)
        if where_sql and not pre_filtered:
            out = out.filter(self._expr(where_sql))
        if order_specs:
            out = out.orderBy(*[F.expr(t).desc() if d == "desc" else F.expr(t).asc()
                                for t, d in order_specs])
        if ast.limit is not None:
            out = out.limit(ast.limit)
        if order_tmp:
            out = out.drop(*order_tmp)
        return out

    def _estimate_sql_path(self, ast: A.Estimate, pop: Population,
                           gens: list[Generator], df: DataFrame,
                           latents: set[str]) -> DataFrame:
        """ESTIMATE with DISTINCT and/or GROUP BY [HAVING] (reference
        grammar.y:260-267 select_quant/group_by): estimator expressions are
        materialized as hidden columns on the base table, then the query is
        assembled as ONE Spark SQL statement over that augmented view, so
        aggregates over estimators (``AVG(PREDICTIVE PROBABILITY OF x)``),
        grouping, and HAVING all plan through Catalyst — grouped aggregation
        stays partial/map-side, never a driver loop."""
        hidden: dict[str, Column] = {}
        sql_items: list[str] = []
        for i, item in enumerate(ast.items):
            name = self._item_name(item, i)
            expr = item.expr
            if isinstance(expr, A.ProjectionSub):
                sub = self.execute(expr.query)
                sql_items.extend(f"`{str(r[0])}`" for r in sub.collect())
                continue
            if isinstance(expr, A.RawSQL):
                if expr.sql == "*":
                    sql_items.append("*")
                elif expr.sql.strip().lower() in latents:
                    sql_items.append(f"CAST(NULL AS DOUBLE) AS `{name}`")
                else:
                    sql_items.append(f"{expr.sql} AS `{name}`")
                continue
            if isinstance(expr, A.MixedSQL):
                tmpl = expr.template
                for ph, est in expr.estimators.items():
                    if est.kind == "predictive_probability":
                        uph = f"__i{i}_{ph.strip('_')}__"
                        hidden[uph] = self._predictive_probability_col(df, pop, gens, est)
                        tmpl = tmpl.replace(ph, f"`{uph}`")
                    else:
                        tmpl = tmpl.replace(
                            ph, self._lit_sql(self._estimator_constant(est, pop, gens))
                        )
                sql_items.append(f"{tmpl} AS `{name}`")
                continue
            if expr.kind == "predictive_probability":
                if expr.targets["column"].lower() in latents:
                    sql_items.append(f"CAST(NULL AS DOUBLE) AS `{name}`")
                else:
                    ph = f"__est_{i}"
                    hidden[ph] = self._predictive_probability_col(df, pop, gens, expr)
                    sql_items.append(f"`{ph}` AS `{name}`")
                continue
            sql_items.append(
                f"{self._lit_sql(self._estimator_constant(expr, pop, gens))} AS `{name}`"
            )
        where_sql = ast.where
        if where_sql:
            where_sql, wests = self._parse_mixed_clause(where_sql)
            for ph, est in wests.items():
                if est.kind == "predictive_probability":
                    uph = f"__w_{ph.strip('_')}__"
                    hidden[uph] = self._predictive_probability_col(df, pop, gens, est)
                    where_sql = where_sql.replace(ph, f"`{uph}`")
                else:
                    where_sql = where_sql.replace(
                        ph, self._lit_sql(self._estimator_constant(est, pop, gens)))
        view = df.withColumns(hidden) if hidden else df
        SparkBQL._GRP_N += 1
        tmp = f"__bql_est_{SparkBQL._GRP_N}"
        view.createOrReplaceTempView(tmp)
        sql = "SELECT " + ("DISTINCT " if ast.distinct else "") + ", ".join(sql_items)
        sql += f" FROM {tmp}"
        if where_sql:
            sql += f" WHERE {rewrite_sqlite(where_sql, self.seed)}"
        if ast.group_by:
            sql += f" GROUP BY {ast.group_by}"
        if ast.order_by:
            sql += f" ORDER BY {ast.order_by}"
        if ast.limit is not None:
            sql += f" LIMIT {ast.limit}"
        return self.spark.sql(sql)

    def _predictive_probability_col(self, df: DataFrame, pop: Population,
                                    gens: list[Generator], est: A.EstimatorCall) -> Column:
        """PREDICTIVE PROBABILITY OF col: per-row log density of the row's
        own value, model-averaged; NULL value -> NULL (reference
        src/bqlfn.py:459-486). The Spark replacement for the reference's
        per-row SQLite callback: a Catalyst expression over driver-folded
        model constants for nig_normal's single column, vectorized pandas
        UDFs with broadcast model state for CrossCat and joint targets."""
        columns = [c.lower() for c in
                   (est.targets.get("columns") or [est.targets["column"]])]
        givens = est.targets.get("givens") or []
        if givens == "*" or "*" in givens:
            seen = {c for c in givens if c != "*"} | set(columns)
            givens = [c for c in givens if c != "*"] + [
                v.name.lower() for v in pop.modeled_variables()
                if v.name.lower() not in seen]
        givens = [c.lower() for c in givens if c.lower() not in columns]
        gens = self._need_models(gens, "predictive probability")
        first_model = next(iter(gens[0].models.values()))
        if "views" in first_model:
            # CrossCat-class state: cluster-mixture density with same-view
            # given-evidence reweighting (vectorized below)
            return self._crosscat_pp_col(pop, gens, columns, givens)
        if "*" in columns:
            # *-expansion: all modeled variables (reference
            # src/compiler.py:1150-1229)
            seen = [c for c in columns if c != "*"]
            columns = seen + [v.name.lower() for v in pop.modeled_variables()
                              if v.name.lower() not in seen]
        if len(columns) > 1:
            return self._joint_predictive_probability_col(pop, gens, columns)
        # GIVEN (cols|*): conditioning columns. The independent-marginal
        # model state this path evaluates makes the target density invariant
        # to conditioning (p(x|z) = p(x) under independence), so the clause
        # is accepted and the unconditional density is exact for these
        # backends (reference semantics: condition on the row's given-col
        # values, src/bqlfn.py:459-486).
        colname = columns[0]
        var = pop.variables[colname]
        models = [g.models[mn] for g in gens for mn in sorted(g.models)]
        x = "`" + var.name.replace("`", "``") + "`"
        if var.stattype == "nominal":
            # per-category logmeanexp over the models, folded on the
            # driver into a map literal; an unseen category scores -inf
            tables = []
            for m in models:
                p = m["nominal"][colname]
                tables.append({c: math.log(pr) if pr > 0 else -math.inf
                               for c, pr in zip(p["categories"], p["probs"])})
            cats = sorted({c for t in tables for c in t})
            entries = ", ".join(
                f"{_slit(str(c))}, "
                f"{_dlit(logmeanexp([t.get(c, -math.inf) for t in tables]))}"
                for c in cats)
            lookup = f"map({entries})[CAST({x} AS STRING)]" if cats else "NULL"
            return F.expr(
                f"CASE WHEN {x} IS NULL THEN NULL "
                f"ELSE coalesce({lookup}, {_dlit(-math.inf)}) END")
        # Gaussian log density per model, lp = k - z*z/2 with
        # k = -log(sigma) - log(2 pi)/2 folded on the driver, then the
        # logmeanexp over models (the lambdas bind the lp array and its max
        # once, so the expression grows linearly in the model count): a
        # Catalyst expression, no Python worker
        mus = np.array([m["numerical"][colname]["mu"] for m in models], dtype=float)
        sigmas = np.array([m["numerical"][colname]["sigma"] for m in models],
                          dtype=float)
        ks = -np.log(sigmas) - 0.5 * math.log(2 * math.pi)
        lps = []
        for k, mu, sd in zip(ks, mus, sigmas):
            z = f"((CAST({x} AS DOUBLE) - {_dlit(mu)}) / {_dlit(sd)})"
            lps.append(f"({_dlit(k)} - 0.5D * ({z} * {z}))")
        mean = f"aggregate(a, 0D, (s, lp) -> s + exp(lp - m)) / {_dlit(len(models))}"
        return F.expr(
            f"transform(array(array({', '.join(lps)})), a -> "
            f"transform(array(array_max(a)), m -> m + ln({mean}))[0])[0]")

    def _crosscat_pp_col(self, pop: Population, gens: list[Generator],
                         columns: list[str], givens: list[str]) -> Column:
        """PREDICTIVE PROBABILITY over a CrossCat-class generator: per model
        the joint density decomposes over views; within each view the
        target values are scored under the cluster mixture, with the row's
        given-column values reweighting the cluster weights (evidence in
        other views cancels by independence — reference
        cgpm logpdf semantics, src/bqlfn.py:459-486). One vectorized pandas
        UDF; model state is broadcast, no joins."""
        import numpy as _np

        if "*" in columns:
            seen = [c for c in columns if c != "*"]
            columns = seen + [v.name.lower() for v in pop.modeled_variables()
                              if v.name.lower() not in seen]
        # overlap filter must run AFTER *-expansion or an expanded target
        # would also enter the given list and double-count its density
        givens = [c for c in givens if c not in columns]
        gen = gens[0]
        be = self.backend(gen.backend)
        encoders = gen.state.get("encoders", {})
        # OVERRIDE'd targets score under their foreign predictor (conditioned
        # on the row's input values); overridden/exposed givens carry no
        # tractable evidence into the CrossCat part and are dropped
        # (documented divergence — the reference chains through cgpm).
        fmap = {c: ov for ov in (gen.state.get("overrides") or [])
                for c in ov["outputs"]}
        fg_targets = [c for c in columns if c in fmap]
        cc_columns = [c for c in columns if c not in fmap]
        givens = [c for c in givens if c not in fmap]
        fg_specs = []
        for c in fg_targets:
            ov = fmap[c]
            fitted = (ov.get("fitted") or {}).get(c)
            if fitted is None:
                raise BQLError("ANALYZE the generator before querying")
            fg_specs.append((c, ov["inputs"],
                             [float(b) for b in fitted["beta"]],
                             float(fitted["sigma"]),
                             [float(gen.state.get("means", {}).get(i, 0.0))
                              for i in ov["inputs"]]))
        columns_all = columns
        columns = cc_columns
        need = list(dict.fromkeys(
            columns + givens + fg_targets
            + [i for _, ins, _, _, _ in fg_specs for i in ins]))
        # spec per (model, view): (t_idx, g_idx, logw, mu[col], sd[col])
        model_specs = []
        for g in gens:
            for mn in sorted(g.models):
                m = g.models[mn]
                views: dict[str, dict] = {}
                for c in columns + givens:
                    vid = str(m["views"].get(c))
                    views.setdefault(vid, {"t": [], "g": []})
                    (views[vid]["t"] if c in columns else views[vid]["g"]).append(c)
                vspecs = []
                for vid, tg in views.items():
                    if not tg["t"]:
                        continue  # given-only views cancel
                    comps = [c for c in m["components"].get(vid, {}).values()
                             if all(c["mu"].get(col) is not None
                                    for col in tg["t"] + tg["g"])]
                    if not comps:
                        vspecs = None
                        break
                    logw = _np.log(_np.array([c["n"] for c in comps], dtype=float))
                    mus = {col: _np.array([c["mu"][col] for c in comps])
                           for col in tg["t"] + tg["g"]}
                    # sd floor scales with the column's global sd (same
                    # regularization as the backend's density paths —
                    # degenerate clusters must not become point masses)
                    gsds = g.state.get("sds", {})
                    sds = {col: _np.maximum(_np.array(
                        [c["sd"][col] or 0.0 for c in comps]),
                        max(0.01 * (float(gsds.get(col) or 1.0) or 1.0), 1e-9))
                        for col in tg["t"] + tg["g"]}
                    vspecs.append((tg["t"], tg["g"], logw, mus, sds))
                model_specs.append(vspecs)
        n_models = len(model_specs)

        # nominal columns score as discretized-Gaussian BIN MASSES (a true
        # PMF <= 1), numericals as Gaussian pdfs — identical semantics to
        # the backend's scalar density path (crosscat_lite.log_bin_mass)
        from bayeslite_spark.backends.crosscat_lite import log_bin_mass as _lbm

        ncats = {c: len(encoders[c]) for c in need if c in encoders}

        @F.pandas_udf("double")
        def cc_pp_udf(t: pd.DataFrame) -> pd.Series:
            n = len(t)
            x = {c: t[c].to_numpy(dtype=float) for c in need}

            def col_lp(c, mus, sds):
                v = x[c]
                if c in ncats:
                    return _lbm(_np.nan_to_num(v)[:, None], mus[c][None, :],
                                sds[c][None, :], ncats[c])
                return (-_np.log(sds[c])[None, :] - 0.5 * math.log(2 * math.pi)
                        - 0.5 * ((_np.nan_to_num(v)[:, None] - mus[c][None, :])
                                 / sds[c][None, :]) ** 2)

            lps = _np.full((n, n_models), -_np.inf)
            for j, vspecs in enumerate(model_specs):
                if vspecs is None:
                    continue
                acc = _np.zeros(n)
                for tcols, gcols, logw, mus, sds in vspecs:
                    lw = _np.broadcast_to(logw[None, :], (n, len(logw))).copy()
                    for c in gcols:
                        v = x[c]
                        lw = lw + _np.where(_np.isnan(v)[:, None], 0.0,
                                            col_lp(c, mus, sds))
                    lw = lw - _logsumexp_rows(lw)[:, None]  # normalize weights
                    lt = lw
                    for c in tcols:
                        v = x[c]
                        # NULL targets drop (reference src/bqlfn.py:466-471);
                        # all-NULL rows are masked to NULL at the end
                        lt = lt + _np.where(_np.isnan(v)[:, None], 0.0,
                                            col_lp(c, mus, sds))
                    acc = acc + _logsumexp_rows(lt)
                lps[:, j] = acc
            if fg_specs:
                fg_acc = _np.zeros(n)
                for c, ins, beta, sigma, in_means in fg_specs:
                    y = x[c]
                    mu = _np.full(n, beta[0])
                    for b, i, im in zip(beta[1:], ins, in_means):
                        v = x[i]
                        mu = mu + b * _np.where(_np.isnan(v), im, v)
                    contrib = (-math.log(sigma) - 0.5 * math.log(2 * math.pi)
                               - 0.5 * ((_np.nan_to_num(y) - mu) / sigma) ** 2)
                    fg_acc = fg_acc + _np.where(_np.isnan(y), 0.0, contrib)
                lps = lps + fg_acc[:, None]
            mx = lps.max(axis=1, keepdims=True)
            out = mx[:, 0] + _np.log(_np.exp(lps - mx).mean(axis=1))
            all_targets_null = _np.ones(n, dtype=bool)
            for c in columns_all:
                all_targets_null &= _np.isnan(x[c])
            return pd.Series(_np.where(all_targets_null, _np.nan, out))

        fields = []
        for c in need:
            if c in encoders:
                if encoders[c]:
                    mapping = F.create_map(*[x for k, v in encoders[c].items()
                                             for x in (F.lit(k), F.lit(float(v)))])
                else:
                    # empty category dictionary (0-row training data): a
                    # bare create_map() is untyped — use a typed NULL map
                    mapping = F.lit(None).cast("map<string,double>")
                fields.append(mapping[F.col(pop.variables[c].name).cast("string")]
                              .cast("double").alias(c))
            else:
                fields.append(F.col(pop.variables[c].name).cast("double").alias(c))
        _ = be  # backend consulted for state shape only; math is inline
        return cc_pp_udf(F.struct(*fields))

    def _joint_predictive_probability_col(self, pop: Population,
                                          gens: list[Generator],
                                          columns: list[str]) -> Column:
        """PREDICTIVE PROBABILITY OF (c0, c1, ...): per model the joint
        log density is the SUM of the per-column log densities (the model
        state here is independent-marginal), NULL targets are dropped, and
        the model average (logmeanexp) is taken over the per-model sums —
        averaging per column first would be wrong (reference
        src/bqlfn.py:459-486 evaluates logpdf_joint per model)."""
        specs = []  # per column: ("num", name, mus[], sigmas[]) | ("nom", name, tables[])
        for colname in columns:
            var = pop.variables[colname]
            if var.stattype == "nominal":
                tables = []
                for g in gens:
                    for mn in sorted(g.models):
                        pcat = g.models[mn]["nominal"][colname]
                        tables.append({c: math.log(pr) if pr > 0 else -math.inf
                                       for c, pr in zip(pcat["categories"], pcat["probs"])})
                specs.append(("nom", var.name, tables))
            else:
                mus, sigmas = [], []
                for g in gens:
                    for mn in sorted(g.models):
                        pnum = g.models[mn]["numerical"][colname]
                        mus.append(pnum["mu"])
                        sigmas.append(pnum["sigma"])
                specs.append(("num", var.name,
                              np.array(mus), np.array(sigmas)))
        n_models = len(specs[0][2] if specs[0][0] == "nom" else specs[0][2])

        @F.pandas_udf("double")
        def joint_udf(t: pd.DataFrame) -> pd.Series:
            n = len(t)
            lps = np.zeros((n, n_models))
            any_obs = np.zeros(n, dtype=bool)
            for i, spec in enumerate(specs):
                col = t[f"c{i}"]
                if spec[0] == "num":
                    _, _, mus, sigmas = spec
                    x = col.to_numpy(dtype=float)
                    obs = ~np.isnan(x)
                    contrib = (-np.log(sigmas)[None, :] - 0.5 * math.log(2 * math.pi)
                               - 0.5 * ((np.nan_to_num(x)[:, None] - mus[None, :])
                                        / sigmas[None, :]) ** 2)
                    lps += np.where(obs[:, None], contrib, 0.0)
                else:
                    _, _, tables = spec
                    obs = col.notna().to_numpy()
                    contrib = np.array([
                        [tb.get(str(v), -math.inf) for tb in tables]
                        if o else [0.0] * n_models
                        for v, o in zip(col, obs)
                    ])
                    lps += contrib
                any_obs |= obs
            mx = lps.max(axis=1, keepdims=True)
            out = mx[:, 0] + np.log(np.exp(lps - mx).mean(axis=1))
            return pd.Series(np.where(any_obs, out, np.nan))

        fields = []
        for i, spec in enumerate(specs):
            cast = "double" if spec[0] == "num" else "string"
            fields.append(F.col(spec[1]).cast(cast).alias(f"c{i}"))
        return joint_udf(F.struct(*fields))

    # -- ESTIMATE ... FROM [PAIRWISE] COLUMNS OF pop -------------------------
    def _variables_df(self, pop: Population) -> DataFrame:
        rows = [
            (v.name, v.stattype, v.colno)
            for v in pop.variables.values()
            if v.stattype not in ("ignore", "key")
        ]
        return local_frame(self.spark, rows, "name string, stattype string, colno int")

    @staticmethod
    def _colwise_map(vals: dict[str, float | None]) -> Column:
        """Broadcast a per-variable value dict as a map lookup keyed on the
        variables catalog's ``name`` column."""
        if not vals:
            # typed NULL map: a bare create_map() is untyped and fails
            # analysis (0-variable universe)
            return F.lit(None).cast("map<string,double>")[F.col("name")]
        mapping = F.create_map(
            *[x for k, v in vals.items()
              for x in (F.lit(k), F.lit(None if v is None else float(v)))]
        )
        return mapping[F.col("name")]

    def _column_estimator_values(self, est: A.EstimatorCall,
                                 universe: list[tuple[str, str, int]],
                                 pop: Population,
                                 gens: list[Generator]) -> dict[str, float | None]:
        """1-col estimator context (reference compile_estcols,
        src/compiler.py:844-919): evaluate the estimator once per in-scope
        variable, the variable supplying the implicit column. Large
        universes batch MUTUAL INFORMATION through the distributed
        pairs-DataFrame path (one Spark job, not an O(V) driver loop)."""
        vals: dict[str, float | None] = {}
        if (est.kind == "mutual_information"
                and est.targets.get("col0") is None
                and est.targets.get("cols0") is None
                and not est.targets.get("constraints")
                and est.targets.get("col1") is not None
                and len(universe) >= self.pairwise_mi_distributed_min):
            anchor = est.targets["col1"]
            gens_m = self._need_models(gens, est.kind)
            cache = self._pairwise_mi_distributed(
                gens_m, [(v, None, anchor, None) for v, _, _ in universe],
                self._ns(est.targets.get("nsamples")))
            return {v: cache[(v, anchor)] for v, _, _ in universe}
        for vname, _vst, _vcolno in universe:
            if est.kind == "probability_density_value":
                val = self._eval_scalar(est.targets["value"])
                givens = [(c.lower(), self._eval_scalar(v))
                          for c, v in est.targets.get("givens") or []]
                gens2 = self._need_models(gens, est.kind)
                lps = []
                for g in gens2:
                    be = self.backend(g.backend)
                    try:
                        lps.append(logmeanexp(
                            be.logpdf_joint_per_model(
                                g, [(vname.lower(), val)], givens)
                        ))
                    except (KeyError, ValueError):
                        lps.append(float("-inf"))
                vals[vname] = math.exp(logmeanexp(lps))
            elif est.kind in ("dependence_probability", "correlation",
                              "correlation_pvalue", "mutual_information"):
                # the implicit column is the variable itself; the anchor
                # comes from the WITH clause (reference 1-col flavour,
                # src/grammar.y:520-558)
                filled = A.EstimatorCall(est.kind, dict(est.targets))
                if filled.targets.get("col0") is None:
                    filled.targets["col0"] = vname
                    if "cols0" in filled.targets:
                        filled.targets["cols0"] = [vname]
                if filled.targets.get("col1") is None:
                    raise BQLError(
                        f"{est.kind} in COLUMNS OF context needs an "
                        "anchor: use ... WITH <col>"
                    )
                vals[vname] = self._estimator_constant(filled, pop, gens)
            elif est.kind == "probability_of":
                # PROBABILITY OF (<estimator cmp>): the macro's inner
                # estimator takes the variable as its implicit column
                # (reference expands to AVG over SIMULATE MODELS within the
                # 1-col compiler context, src/macro.py:26-34)
                inner: A.EstimatorCall = est.targets["inner"]
                filled_inner = A.EstimatorCall(inner.kind, dict(inner.targets))
                if filled_inner.targets.get("col0") is None:
                    filled_inner.targets["col0"] = vname
                    if "cols0" in filled_inner.targets:
                        filled_inner.targets["cols0"] = [vname]
                vals[vname] = self._estimator_constant(
                    A.EstimatorCall("probability_of",
                                    {"inner": filled_inner,
                                     "cmp": est.targets["cmp"]}),
                    pop, gens)
            else:
                raise NotImplementedError(
                    f"estimator {est.kind} in COLUMNS OF context"
                )
        return vals

    @staticmethod
    def _where_names_only(where: str) -> bool:
        """True iff the WHERE references no identifiers beyond name0/name1
        (string literals don't count) — the condition under which it can
        prune the pair universe before estimators run."""
        from bayeslite_spark.parser.lexer import tokenize

        try:
            toks = tokenize(where)
        except SyntaxError:
            return False
        names = {t.value.lower() for t in toks if t.type == "NAME"}
        return names <= {"name0", "name1"}

    def _prune_pairs_local(self, pairs: list, where: str) -> list:
        """Apply a names-only WHERE to the V^2 pair universe WITHOUT a
        Spark job: the pair list is driver-side metadata (O(V^2) Python
        tuples), so the predicate runs in-process through DuckDB over a
        pandas frame. BQL's expression dialect is SQLite's, which DuckDB
        speaks (including GLOB), so the raw clause evaluates unrewritten.
        A Spark local-relation filter remains as the fallback for any
        dialect edge DuckDB rejects — still tiny, just not job-free."""
        import duckdb

        pdf = pd.DataFrame(
            [(p[0], p[2]) for p in pairs], columns=["name0", "name1"]
        )
        con = duckdb.connect()
        try:
            con.register("pair_universe", pdf)
            kept = con.execute(
                f"SELECT name0, name1 FROM pair_universe WHERE {where}"
            ).fetchall()
        except Exception:  # noqa: BLE001 — dialect edge: Spark fallback
            sdf = local_frame(
                self.spark, [(p[0], p[2]) for p in pairs],
                "name0 string, name1 string",
            ).filter(self._expr(where))
            kept = [(r["name0"], r["name1"]) for r in sdf.collect()]
        finally:
            con.close()
        keep = set(kept)
        return [p for p in pairs if (p[0], p[2]) in keep]

    def _resolve_column_list(self, text: str) -> list[str]:
        """FOR clause resolution: a comma name-list, or a subquery whose
        first column supplies the names (compile-time evaluation, reference
        src/compiler.py:1693-1718)."""
        t = text.strip()
        if t.upper().startswith(("SELECT", "ESTIMATE")):
            return [str(r[0]) for r in self.execute(t).collect()]
        return [c.strip() for c in t.split(",") if c.strip()]

    def _column_universe(self, ast: A.EstimateColumns,
                         pop: Population) -> list[tuple[str, str, int]]:
        """Variables in scope for COLUMNS OF: the population's manifest
        variables, plus the MODELED BY generator's latents (reference
        includes generator-scoped rows of bayesdb_variable when a generator
        is named), optionally restricted by FOR."""
        universe = [
            (v.name, v.stattype, v.colno)
            for v in pop.variables.values()
            if v.stattype not in ("ignore", "key")
        ]
        if ast.generator:
            g = self.catalog.generator(ast.generator)
            universe += [
                (n, lv["stattype"], lv["colno"])
                for n, lv in (g.state.get("latents") or {}).items()
            ]
        if ast.for_columns:
            keep = {n.lower() for n in self._resolve_column_list(ast.for_columns)}
            universe = [u for u in universe if u[0].lower() in keep]
        return universe

    @staticmethod
    def _strip_v_alias(sql: str) -> str:
        """COLUMNS OF context: the reference compiles over
        ``bayesdb_variable AS v``, so ``v.name``/``v.stattype``/``v.colno``
        are the documented way to reference variable metadata
        (src/compiler.py:844-919); strip the alias outside string
        literals."""
        import re as _re

        parts = _re.split(r"('(?:[^']|'')*')", sql)
        return "".join(
            p if p.startswith("'") else _re.sub(
                r"\bv\.(name|stattype|colno)\b", r"\1", p, flags=_re.I)
            for p in parts
        )

    def _exec_EstimateColumns(self, ast: A.EstimateColumns) -> DataFrame:
        pop = self.catalog.population(ast.population)
        gens = self._restrict_models(
            self._pop_generators(pop, ast.generator), ast.modelnos)
        if ast.where:
            ast.where = self._strip_v_alias(ast.where)
        if ast.order_by:
            ast.order_by = self._strip_v_alias(ast.order_by)
        universe = self._column_universe(ast, pop)
        # estimators nest in WHERE here just as in row context (the
        # reference compiles them as ordinary scalar functions in any
        # expression position): split the clause into a SQL template +
        # per-variable/per-pair estimator values computed below
        tmpl_w, wests = (
            self._parse_mixed_clause(ast.where) if ast.where else (None, {})
        )
        if ast.pairwise:
            # The variables catalog is driver-side metadata (O(V) entries);
            # the V x V expansion happens in Python, and only per-pair
            # *estimator* computations touch Spark (reference does the same
            # self-cross-join over bayesdb_variable, src/compiler.py:921-1004).
            vs = [(n, s) for n, s, _ in universe]
            pairs = [(n0, s0, n1, s1) for n0, s0 in vs for n1, s1 in vs]
            # Predicate pushdown into the pair loop: a WHERE that touches
            # only name0/name1 prunes pairs BEFORE any estimator runs (the
            # reference computes every pair then filters — doc/bql.rst's
            # own perf wart; here pruning saves one Spark job per pair)
            if ast.where and not wests and self._where_names_only(ast.where):
                pairs = self._prune_pairs_local(pairs, ast.where)
            # Batch all numerical-numerical Pearson pairs into ONE
            # aggregation job (the naive path runs one Spark job per pair —
            # O(V^2) jobs; this is O(V^2) agg *expressions* in one pass).
            corr_cache: dict[tuple[str, str], float] = {}
            if any(isinstance(it.expr, A.EstimatorCall)
                   and it.expr.kind == "correlation" for it in ast.items):
                num_pairs = [
                    (n0, n1) for n0, s0, n1, s1 in pairs
                    if s0 != "nominal" and s1 != "nominal" and n0 <= n1
                ]
                if num_pairs:
                    df = self.table(pop.table)
                    aggs = [
                        F.round(F.pow(F.corr(n0, n1), F.lit(2)), 6).alias(f"__c_{k}")
                        for k, (n0, n1) in enumerate(num_pairs)
                    ]
                    row = df.agg(*aggs).collect()[0]
                    for k, (n0, n1) in enumerate(num_pairs):
                        v = row[f"__c_{k}"]
                        corr_cache[(n0, n1)] = corr_cache[(n1, n0)] = (
                            None if v is None else float(v)
                        )
            # Large pair sets: compute every per-pair MUTUAL INFORMATION in
            # ONE Spark job (pairs DataFrame + Arrow-batched mapInPandas
            # with the model ensemble in the task closure) instead of a
            # V^2 driver-side Monte-Carlo loop. Same per-(generator, model)
            # seeds -> byte-identical to the serial path.
            mi_caches: dict[int, dict[tuple[str, str], float]] = {}
            for i, item in enumerate(ast.items):
                e = item.expr
                if (isinstance(e, A.EstimatorCall)
                        and e.kind == "mutual_information"
                        and e.targets.get("col0") is None
                        and e.targets.get("cols0") is None
                        and not e.targets.get("constraints")
                        and len(pairs) >= self.pairwise_mi_distributed_min):
                    mi_caches[i] = self._pairwise_mi_distributed(
                        gens, pairs, self._ns(e.targets.get("nsamples")))
            out_rows = []
            deferred: list[tuple[int, str, str]] = []
            for name0, st0, name1, st1 in pairs:
                row: dict = {"name0": name0, "name1": name1}
                for ph, west in wests.items():
                    row[ph] = self._pairwise_est_value(west, pop, gens, name0, name1)
                for i, item in enumerate(ast.items):
                    colname = self._item_name(item, i)
                    if i in mi_caches:
                        row[colname] = mi_caches[i][(name0, name1)]
                    elif (
                        isinstance(item.expr, A.EstimatorCall)
                        and item.expr.kind == "correlation"
                        and (name0, name1) in corr_cache
                        and item.expr.targets.get("col0") is None
                    ):
                        row[colname] = corr_cache[(name0, name1)]
                    elif isinstance(item.expr, A.MixedSQL):
                        # estimator arithmetic per pair: fill estimator
                        # values now, evaluate every template in one batch
                        filled = self._fill_mixed(
                            item.expr,
                            lambda est: self._pairwise_est_value(
                                est, pop, gens, name0, name1
                            ),
                        )
                        deferred.append((len(out_rows), colname, filled))
                        row[colname] = None
                    else:
                        row[colname] = self._pairwise_value(
                            item, pop, gens, name0, st0, name1, st1
                        )
                out_rows.append(row)
            if deferred:
                results = self._eval_scalars_batch([t for _, _, t in deferred])
                for (ri, cn, _), val in zip(deferred, results):
                    out_rows[ri][cn] = None if val is None else float(val)
            out = self.spark.createDataFrame(pd.DataFrame(out_rows))
        else:
            out = local_frame(
                self.spark, universe, "name string, stattype string, colno int")
            tmp_cols: list[str] = []
            for i, item in enumerate(ast.items):
                name = self._item_name(item, i)
                if isinstance(item.expr, A.RawSQL):
                    if item.expr.sql != "*":
                        out = out.withColumn(name, F.expr(item.expr.sql))
                    continue
                if isinstance(item.expr, A.MixedSQL):
                    for ph, est in item.expr.estimators.items():
                        out = out.withColumn(
                            ph, self._colwise_map(self._column_estimator_values(est, universe, pop, gens))
                        )
                        tmp_cols.append(ph)
                    out = out.withColumn(name, F.expr(item.expr.template))
                    continue
                # 1-col estimator context (reference compile_estcols,
                # src/compiler.py:844-919): evaluate per variable
                out = out.withColumn(
                    name, self._colwise_map(self._column_estimator_values(item.expr, universe, pop, gens))
                )
            if tmp_cols:
                out = out.drop(*tmp_cols)
            for ph, west in wests.items():
                out = out.withColumn(
                    ph, self._colwise_map(
                        self._column_estimator_values(west, universe, pop, gens))
                )
        if ast.where:
            if wests:
                out = out.filter(self._expr(tmpl_w)).drop(*wests.keys())
            else:
                out = out.filter(self._expr(ast.where))
        if ast.distinct:
            out = out.distinct()
        if ast.group_by:
            out = self._group_project(out, ast.group_by)
        if ast.order_by:
            if not ast.pairwise:
                out, specs, tmps = self._columns_order_specs(
                    out, ast.order_by, universe, pop, gens)
                out = out.orderBy(*specs)
                if tmps:
                    out = out.drop(*tmps)
            else:
                out = out.orderBy(*self._order_cols(ast.order_by))
        if ast.limit is not None:
            out = out.limit(ast.limit)
        return out

    def _columns_order_specs(self, out: DataFrame, order_by, universe,
                             pop, gens):
        """ORDER BY terms in the COLUMNS OF context, estimator terms
        included: a bare 1-col estimator orders by its per-variable value
        (computed once, broadcast as a name-keyed map — reference orders by
        the same scalar-function column, src/compiler.py:844-919);
        estimators INSIDE arithmetic substitute hidden per-variable value
        columns into the SQL template and sort on the composed expression
        (the reference compiles estimators to ordinary scalar functions,
        so they nest in any expression position). Returns
        (df, sort_specs, hidden_column_names)."""
        specs: list[Column] = []
        tmps: list[str] = []
        for k, (expr_text, direction) in enumerate(self._split_order(order_by)):
            tmpl, oests = self._parse_mixed_clause(expr_text)
            if oests:
                if tmpl.strip() in oests:
                    oest = oests[tmpl.strip()]
                    col = self._colwise_map(self._column_estimator_values(
                        oest, universe, pop, gens))
                else:
                    for ph, oest in oests.items():
                        tag = f"__oce_{k}_{ph.strip('_')}"
                        out = out.withColumn(
                            tag,
                            self._colwise_map(self._column_estimator_values(
                                oest, universe, pop, gens)))
                        tmps.append(tag)
                        tmpl = tmpl.replace(ph, f"`{tag}`")
                    col = self._expr(tmpl)
            else:
                col = self._expr(tmpl)
            specs.append(col.desc() if direction == "desc" else col.asc())
        return out, specs, tmps

    #: pair-count at or above which PAIRWISE COLUMNS mutual information is
    #: computed inside executors (one Spark job) instead of a driver loop.
    pairwise_mi_distributed_min: int = 64

    def _pairwise_mi_distributed(self, gens: list[Generator], pairs, nsamples: int,
                                 ) -> dict[tuple[str, str], float]:
        """All pairwise MI values in ONE Spark job: the unordered pair set
        becomes a small DataFrame spread across cores, and an Arrow-batched
        mapInPandas evaluates the per-pair Monte-Carlo estimate with the
        model ensemble (a few KB of component parameters) shipped in the
        task closure. Every ordered pair is evaluated independently —
        exactly what the serial loop (and the reference's self-cross-join,
        src/compiler.py:921-1004) does — so with the position-independent
        per-(generator, model) seeding the result is byte-identical to the
        driver loop."""
        import pandas as _pd

        seed = self.seed
        payload = [(g, self.backend(g.backend)) for g in gens]
        ordered = sorted({(p[0], p[2]) for p in pairs})

        def compute(batches):
            for pdf in batches:
                vals = []
                for n0, n1 in zip(pdf["name0"], pdf["name1"]):
                    per_gen = [
                        be.column_mutual_information(
                            g, n0.lower(), n1.lower(), nsamples, seed)
                        for g, be in payload
                    ]
                    vals.append(float(np.mean(per_gen)))
                yield _pd.DataFrame(
                    {"name0": pdf["name0"], "name1": pdf["name1"], "mi": vals})

        n_parts = min(len(ordered), self.spark.sparkContext.defaultParallelism * 2)
        res = (
            self.spark.createDataFrame(ordered, "name0 string, name1 string")
            .repartition(n_parts)
            .mapInPandas(compute, "name0 string, name1 string, mi double")
            .collect()
        )
        return {(r["name0"], r["name1"]): r["mi"] for r in res}

    def _pairwise_est_value(self, est: A.EstimatorCall, pop: Population,
                            gens: list[Generator], name0: str, name1: str):
        filled = A.EstimatorCall(est.kind, dict(est.targets))
        if est.kind in ("dependence_probability", "mutual_information",
                        "correlation", "correlation_pvalue"):
            if filled.targets.get("col0") is None:
                filled.targets["col0"] = name0
            if filled.targets.get("col1") is None:
                filled.targets["col1"] = name1
        return self._estimator_constant(filled, pop, gens)

    def _pairwise_value(self, item: A.SelectItem, pop: Population, gens: list[Generator],
                        name0: str, st0: str, name1: str, st1: str):
        if isinstance(item.expr, A.RawSQL):
            return None
        return self._pairwise_est_value(item.expr, pop, gens, name0, name1)

    def _row_keycol(self, pop: Population) -> str:
        """Row-identity column for row predicates: the declared KEY, else
        the frozen ``_rowid_`` ingest column (the reference keys rows on
        SQLite's implicit _rowid_, src/core.py:599-604), else the first
        column as a last resort."""
        keys = [v.name for v in pop.variables.values() if v.stattype == "key"]
        if keys:
            return keys[0]
        df = self.table(pop.table)
        return "_rowid_" if "_rowid_" in df.columns else df.columns[0]

    @staticmethod
    def _rewrite_rowid_tokens(pred: str, keycol: str) -> str:
        """``rowid``/``_rowid_``/``oid`` are first-class row tokens in the
        reference (bayesdb_rowid_tokens, src/schema.py:34-40); map them to
        the population's row-identity column, outside string literals."""
        import re as _re

        parts = _re.split(r"('(?:[^']|'')*')", pred)
        # idempotent: a token already backtick-quoted by an earlier rewrite
        # (WHERE text is rewritten once at the phrase level, then estimator
        # sub-predicates re-enter through _resolve_rowkey) is left alone
        return "".join(
            p if p.startswith("'") else _re.sub(
                r"(?<!`)\b(?:_rowid_|rowid|oid)\b(?!`)", f"`{keycol}`", p,
                flags=_re.I)
            for p in parts
        )

    def _resolve_rowkey(self, pop: Population, predicate_sql: str):
        """Compile-time subquery resolving a row-selecting predicate to the
        population's row key (the reference compiles OF/TO exprs to
        ``(SELECT _rowid_ FROM t WHERE expr)``, src/compiler.py:1565-1587).
        Multiple matches take the lowest key — the reference's scalar
        subquery likewise yields the first row in rowid order."""
        df = self.table(pop.table)
        keycol = self._row_keycol(pop)
        pred = self._rewrite_rowid_tokens(predicate_sql, keycol)
        rows = (df.filter(F.expr(pred)).select(keycol)
                .orderBy(keycol).limit(1).collect())
        if not rows:
            raise BQLError(
                f"SIMILARITY row expression {predicate_sql!r} selects no row"
            )
        return rows[0][0]

    def _resolve_rowkeys(self, pop: Population, predicate_sql: str) -> list:
        """Compile-time subquery -> list of row keys (reference resolves
        EXISTING ROWS the same way, src/compiler.py:1621-1639)."""
        df = self.table(pop.table)
        keycol = self._row_keycol(pop)
        pred = self._rewrite_rowid_tokens(predicate_sql, keycol)
        return [r[0] for r in df.filter(F.expr(pred)).select(keycol).collect()]

    # -- ESTIMATE ... FROM PAIRWISE pop (row pairs) ---------------------------
    def _exec_EstimatePairwiseRows(self, ast: A.EstimatePairwiseRows) -> DataFrame:
        pop = self.catalog.population(ast.population)
        gens = self._need_models(
            self._restrict_models(
                self._pop_generators(pop, ast.generator), ast.modelnos),
            "similarity")
        sims = [
            item for item in ast.items
            if isinstance(item.expr, A.EstimatorCall) and item.expr.kind == "similarity"
        ]
        if len(sims) != 1:
            raise NotImplementedError(
                "ESTIMATE FROM PAIRWISE supports exactly one SIMILARITY item"
            )
        item = sims[0]
        ctx = self._context_variable(pop, gens, item.expr.targets["context"])
        name = item.alias or "value"
        frames = []
        for g in gens:
            be = self.backend(g.backend)
            frames.append(be.row_similarity_pairs(g, ctx))
        out = frames[0]
        for f in frames[1:]:
            out = out.unionAll(f)
        if len(frames) > 1:
            out = out.groupBy("rowkey0", "rowkey1").agg(
                (F.sum("similarity") / len(frames)).alias("similarity")
            )
        out = out.select(
            F.col("rowkey0").alias("rowid0"),
            F.col("rowkey1").alias("rowid1"),
            F.col("similarity").alias(name),
        )
        if ast.where:
            out = out.filter(self._expr(ast.where))
        if ast.distinct:
            out = out.distinct()
        if ast.group_by:
            out = self._group_project(out, ast.group_by)
        if ast.order_by:
            out = out.orderBy(*self._order_cols(ast.order_by))
        if ast.limit is not None:
            out = out.limit(ast.limit)
        return out

    def _per_model_value(self, be, g: Generator, mn: int, est: A.EstimatorCall):
        """Evaluate one estimator against a SINGLE model (shared by
        SIMULATE FROM MODELS OF and the PROBABILITY OF macro)."""
        if est.kind == "probability_density":
            targets = [(c.lower(), self._eval_scalar(v)) for c, v in est.targets["targets"]]
            givens = [(c.lower(), self._eval_scalar(v)) for c, v in est.targets["givens"]]
            lps = be.logpdf_joint_per_model(g, targets, givens)
            return math.exp(lps[sorted(g.models).index(mn)])
        if est.kind == "dependence_probability":
            return be.column_dependence_probability_model(
                g, mn, est.targets["col0"].lower(), est.targets["col1"].lower()
            )
        if est.kind == "mutual_information":
            cols0 = [c.lower() for c in (est.targets.get("cols0") or [est.targets["col0"]])]
            cols1 = [c.lower() for c in (est.targets.get("cols1") or [est.targets["col1"]])]
            constraints = [
                (c.lower(), None if v is None else self._eval_scalar(v))
                for c, v in (est.targets.get("constraints") or [])
            ]
            ns = self._ns(est.targets.get("nsamples"))
            if len(cols0) == 1 and len(cols1) == 1 and not constraints:
                return be.column_mutual_information_model(
                    g, mn, cols0[0], cols1[0], ns, self.seed)
            return be.column_mutual_information_model_set(
                g, mn, cols0, cols1, constraints, ns, self.seed)
        raise NotImplementedError(f"per-model estimator {est.kind}")

    # -- SIMULATE ... FROM MODELS OF ----------------------------------------
    def _exec_SimulateModels(self, ast: A.SimulateModels) -> DataFrame:
        """One row per (generator, model); estimator items evaluated against
        that single model (reference compile_simulate_models,
        src/compiler.py:724-835 — its bql_mutinf virtual table becomes a
        plain per-model computation here)."""
        pop = self.catalog.population(ast.population)
        gens = self._need_models(
            self._pop_generators(pop, ast.generator), "simulate models")
        rows = []
        deferred: list[tuple[int, str, str]] = []
        for g in gens:
            be = self.backend(g.backend)
            for mn in sorted(g.models):
                # output columns are exactly the simulated items — the
                # reference emits no generator/modelno bookkeeping columns
                # (tests/test_cmi.py:246-306 asserts the column set)
                row: dict = {}
                for i, item in enumerate(ast.items):
                    name = self._item_name(item, i)
                    if isinstance(item.expr, A.MixedSQL):
                        # compound estimator expression: the reference
                        # macro-expands these to a SELECT over a simple
                        # SIMULATE MODELS (src/macro.py:37-51); here the
                        # per-model values fold to literals and the
                        # arithmetic evaluates in one batch job
                        filled = self._fill_mixed(
                            item.expr,
                            lambda est: self._per_model_value(be, g, mn, est),
                        )
                        deferred.append((len(rows), name, filled))
                        row[name] = None
                        continue
                    if isinstance(item.expr, A.ProjectionSub):
                        # the reference cannot simulate population
                        # variables FROM MODELS OF either (xfail,
                        # tests/test_bql.py:1170-1187)
                        raise BQLError(
                            "SIMULATE ... FROM MODELS OF items must be "
                            "model estimators or constants, not "
                            "population variables")
                    if not isinstance(item.expr, A.EstimatorCall):
                        try:
                            row[name] = self._eval_scalar(item.expr.sql)
                        except Exception as e:  # noqa: BLE001
                            # population-variable reference (e.g. `weight`):
                            # clean refusal instead of a raw analysis error
                            raise BQLError(
                                "SIMULATE ... FROM MODELS OF items must be "
                                f"model estimators or constants: "
                                f"{item.expr.sql!r}") from e
                        continue
                    row[name] = self._per_model_value(be, g, mn, item.expr)
                rows.append(row)
        if deferred:
            results = self._eval_scalars_batch([t for _, _, t in deferred])
            for (ri, cn, _), val in zip(deferred, results):
                rows[ri][cn] = None if val is None else float(val)
        return self.spark.createDataFrame(pd.DataFrame(rows))

    # -- SIMULATE ------------------------------------------------------------

    #: LIMIT at or above which SIMULATE samples inside executors
    #: (spark.range + mapInPandas) instead of materializing on the driver.
    #: The reference always materializes driver-side (winders,
    #: src/compiler.py:679-722), which OOMs at large LIMIT; the distributed
    #: path bounds driver memory at any sample count.
    simulate_distributed_min: int = 100_000

    def _simulate_distributed(self, pop, parts, cols: list[str], givens) -> DataFrame:
        """Executor-side SIMULATE: ``spark.range(n)`` partitions the sample
        count; each Arrow batch draws its share by calling the backend's
        closed-form sampler with a seed derived from (engine seed,
        generator, batch start id) — deterministic for a fixed batch
        layout, bounded memory per task, no driver materialization. Model
        state (a few KB of component parameters) ships with the task
        closure exactly once per executor."""
        from pyspark.sql.types import DoubleType, StringType, StructField, StructType

        nominal = {c for c in cols if pop.variables[c].stattype == "nominal"}
        schema = StructType([
            StructField(c, StringType() if c in nominal else DoubleType())
            for c in cols
        ])
        frames = []
        for gi, (gen, k, be) in enumerate(parts):
            if k <= 0:
                continue
            seed0 = (self.seed + gi) & 0x7FFFFFFF

            def make(be=be, gen=gen, seed0=seed0):
                def sample(batches):
                    import pandas as _pd

                    for pdf in batches:
                        n_batch = len(pdf)
                        if n_batch == 0:
                            continue
                        seed = (seed0 * 1_000_003
                                + int(pdf["id"].iloc[0]) * 7919 + 13) % (2 ** 31 - 1)
                        data = be.simulate_joint(gen, cols, n_batch, givens, seed)
                        out = _pd.DataFrame(data, columns=cols)
                        for c in cols:
                            out[c] = (out[c].astype(str) if c in nominal
                                      else out[c].astype(float))
                        yield out

                return sample

            frames.append(self.spark.range(int(k)).mapInPandas(make(), schema))
        if not frames:
            return local_frame(self.spark, [], schema)
        df = frames[0]
        for f in frames[1:]:
            df = df.unionAll(f)
        return df

    def _generator_weights(self, gens, givens) -> np.ndarray:
        """Per-sample generator choice ~ constraint likelihood (reference
        multinomial over exp logpdf(givens), src/bqlfn.py:555-572);
        unconstrained -> uniform. Constraints impossible under every
        generator also fall back to uniform (the reference's multinomial
        would divide by zero the same way)."""
        if givens:
            lls = np.array([
                self.backend(g.backend).logpdf_joint(g, givens, [])
                for g in gens
            ])
            mx = lls.max()
            if np.isfinite(mx):
                ws = np.exp(lls - mx)
                return ws / ws.sum()
        return np.full(len(gens), 1.0 / len(gens))

    def _exec_Simulate(self, ast: A.Simulate) -> DataFrame:
        pop = self.catalog.population(ast.population)
        gens = self._need_models(
            self._restrict_models(
                self._pop_generators(pop, ast.generator), ast.modelnos),
            "simulate")
        # ACCURACY is accepted and ignored: it tunes cgpm's rejection
        # loop, and our closed-form samplers are exact (src/grammar.y
        # ACCURACY; cgpm accuracy param).
        givens = [(c.lower(), self._eval_scalar(v)) for c, v in ast.givens]
        # rowid tokens in GIVEN condition the simulation on an observed
        # row's latent cluster state (reference simulate-given-rowid,
        # tests/test_simulate.py:79-226; rowid tokens per schema.py:34-40).
        _ROWID = {"rowid", "_rowid_", "oid"}
        row_givens = [(c, v) for c, v in givens if c in _ROWID]
        givens = [(c, v) for c, v in givens if c not in _ROWID]
        row_key = None
        if row_givens:
            if len(row_givens) > 1:
                raise BQLError(
                    "only one rowid is allowed in SIMULATE GIVEN")
            row_key = int(row_givens[0][1])
        cols = []
        for c in ast.columns:
            if isinstance(c, A.ProjectionSub):
                # t.(<query>): column names from the subquery's first column
                # (reference subquery_columns, src/compiler.py:604-617)
                sub = self.execute(c.query)
                cols.extend(str(r[0]).lower() for r in sub.collect())
            else:
                cols.append(c.lower())
        # unknown simulate targets / GIVEN variables are semantic errors
        # (reference src/bqlfn.py:537-544 via core lookups ->
        # tests/test_bql.py:2296-2305 expects BQLError). A latent is only
        # simulable when EVERY selected generator models it: without
        # MODELED BY, `simulate x, xe from p` must raise when any
        # generator lacks xe (reference tests/test_nig_normal.py:134-140).
        latents = set.intersection(*[
            {n.lower() for n in (g.state.get("latents") or {})}
            for g in gens]) if gens else set()
        for c in cols:
            if c not in pop.variables and c not in latents:
                raise BQLError(f"no such variable in population "
                               f"{pop.name}: {c}")
        for c, _v in givens:
            if c not in pop.variables and c not in latents:
                raise BQLError(f"no such variable in population "
                               f"{pop.name}: {c}")
        if row_key is not None:
            # row-conditional SIMULATE stays on the driver path: the
            # sample count is query-sized, and the pinned-cluster lookup
            # is one filtered read of the assignment table. The base-table
            # row's observed values ride along: incorporated rows refuse
            # overrides of observed cells, unincorporated rows load them
            # as constraints (reference tests/test_simulate.py:214-253).
            keycol = self._row_keycol(pop)
            obs_rows = (self.table(pop.table)
                        .filter(F.col(keycol) == row_key).limit(1).collect())
            if not obs_rows:
                raise BQLError(
                    f"no such row in {pop.table}: {keycol} = {row_key}")
            observed = {
                k.lower(): v for k, v in obs_rows[0].asDict().items()
                if k.lower() in pop.variables
                and pop.variables[k.lower()].stattype not in ("ignore", "key")
            }

            def _sim_row(g, k, seed):
                be = self.backend(g.backend)
                if not hasattr(be, "simulate_joint_row"):
                    raise BQLError(
                        f"{g.backend}: SIMULATE GIVEN rowid is not "
                        "supported by this backend")
                return be.simulate_joint_row(g, cols, k, givens, row_key,
                                             seed, observed)

            if len(gens) == 1:
                data = _sim_row(gens[0], ast.limit, self.seed)
            else:
                ws = self._generator_weights(gens, givens)
                rng = np.random.RandomState(self.seed & 0x7FFFFFFF)
                counts = rng.multinomial(ast.limit, ws)
                parts = [_sim_row(g, int(k), self.seed + gi)
                         for gi, (g, k) in enumerate(zip(gens, counts))
                         if k > 0]
                data = (np.concatenate(parts, axis=0) if parts
                        else np.empty((0, len(cols)), dtype=object))
        elif ast.limit >= self.simulate_distributed_min:
            if len(gens) == 1:
                parts = [(gens[0], int(ast.limit), self.backend(gens[0].backend))]
            else:
                ws = self._generator_weights(gens, givens)
                rng = np.random.RandomState(self.seed & 0x7FFFFFFF)
                counts = rng.multinomial(ast.limit, ws)
                parts = [(g, int(k), self.backend(g.backend))
                         for g, k in zip(gens, counts)]
            return self._simulate_distributed(pop, parts, cols, givens)
        elif len(gens) == 1:
            data = self.backend(gens[0].backend).simulate_joint(
                gens[0], cols, ast.limit, givens, self.seed
            )
        else:
            ws = self._generator_weights(gens, givens)
            rng = np.random.RandomState(self.seed & 0x7FFFFFFF)
            counts = rng.multinomial(ast.limit, ws)
            parts = [
                self.backend(g.backend).simulate_joint(g, cols, int(k), givens,
                                                       self.seed + gi)
                for gi, (g, k) in enumerate(zip(gens, counts)) if k > 0
            ]
            data = (np.concatenate(parts, axis=0) if parts
                    else np.empty((0, len(cols)), dtype=object))
        pdf = pd.DataFrame(data, columns=cols)
        for j, c in enumerate(cols):
            var = pop.variables.get(c)
            if var is not None:
                st = var.stattype
            else:  # generator-scoped latent: stattype from the generator
                st = next(g.state["latents"][c]["stattype"] for g in gens
                          if c in (g.state.get("latents") or {}))
            if st != "nominal":
                pdf[c] = pdf[c].astype(float)
            else:
                pdf[c] = pdf[c].astype(str)
        return self.spark.createDataFrame(pdf)

    def _exec_AlterPopulation(self, ast: A.AlterPopulation) -> DataFrame:
        """ADD VARIABLE / SET STATTYPE catalog mutations (reference
        src/bql.py:254-339). Generators fitted before the change keep their
        old variable set until re-created — same as the reference, which
        requires backend add_column support."""
        pop = self.catalog.population(ast.name)
        if ast.rename_to is not None:
            if pop.implicit:
                # reference src/bql.py:293-299: implicit populations follow
                # their table's name; rename the table instead
                raise BQLError(
                    f"cannot rename implicit population {ast.name}; "
                    f"rename table {pop.table} instead")
            self._rename_population(pop, ast.rename_to)
        df = self.table(pop.table)
        cols = {f.name.lower(): f.name for f in df.schema.fields}
        guessed: dict[str, str] = {}
        if any(st is None for _, st in ast.add_variables):
            from bayeslite_spark.functions.stats_queries import guess_schema

            for r in guess_schema(self.spark, df).collect():
                guessed[r.column_name.lower()] = r.stattype
        for var, st in ast.add_variables:
            k = var.lower()
            if k not in cols:
                raise BQLError(f"no such column in {pop.table}: {var}")
            if k in pop.variables and pop.variables[k].stattype != "ignore":
                # an IGNORE column is NOT a population variable in the
                # reference (bayesdb_has_variable false) — ADD VARIABLE
                # promotes it; anything else is a duplicate
                raise BQLError(f"variable {var} already in population {pop.name}")
            if st is not None and st.lower() not in self._STATTYPES_SEEDED:
                # reference rejects unknown stattypes at ADD VARIABLE
                # (tests/test_bql.py test_alterpop_addvar 'heigh numr')
                raise BQLError(f"invalid statistical type: {st}")
            if df.filter(F.col(cols[k]).isNotNull()).limit(1).count() == 0:
                # reference refuses a variable whose column holds no
                # values (test_alterpop_addvar: new column weight fails
                # until a value exists) — a model can't be fit on it
                raise BQLError(
                    f"no values in column {var} of {pop.table}")
            if st is None:  # ADD VARIABLE c with no stattype -> guess
                st = guessed.get(k, "ignore")
            colno = max((v.colno for v in pop.variables.values()), default=0) + 1
            pop.variables[k] = Variable(name=cols[k], stattype=st, colno=colno)
        for var, st in ast.set_stattypes:
            k = var.lower()
            if k not in pop.variables:
                raise BQLError(f"no such variable in {pop.name}: {var}")
            pop.variables[k].stattype = st
        return self._ok(f"altered population {pop.name}")

    def _rename_population(self, pop, new_name: str) -> None:
        """Rename in the catalog, repoint generators, and carry any
        implicit generator along (reference src/bql.py:316-323)."""
        old_key, new_key = pop.name.lower(), new_name.lower()
        if new_key == old_key:
            # rename to self (possibly case-variant) succeeds as a no-op
            # (reference tests/test_bql.py:1383-1387)
            pop.name = new_name
            return
        if new_key in self.catalog.populations:
            raise BQLError(f"population {new_name} already exists")
        del self.catalog.populations[old_key]
        pop.name = new_name
        self.catalog.populations[new_key] = pop
        for g in list(self.catalog.generators.values()):
            if g.population == old_key:
                g.population = new_key
                if g.implicit:
                    if new_key in self.catalog.generators:
                        raise BQLError(f"generator {new_name} already exists")
                    del self.catalog.generators[g.name.lower()]
                    g.name = new_name
                    self.catalog.generators[new_key] = g

    # -- transactions --------------------------------------------------------
    def _exec_Txn(self, ast: A.Txn) -> DataFrame:
        """Catalog-scoped BEGIN/COMMIT/ROLLBACK (reference src/txn.py:53-86,
        non-nestable). Divergence from the reference, documented: table DATA
        here is immutable DataFrames, so the transaction covers catalog
        state (populations/generators/models/table registry), which is all
        the BQL surface can mutate anyway."""
        import copy

        if ast.action == "begin":
            if getattr(self, "_txn_snapshot", None) is not None:
                raise BQLError("already in a transaction")  # non-nestable
            self._txn_snapshot = self._catalog_snapshot()
            return self._ok("begin")
        if getattr(self, "_txn_snapshot", None) is None:
            raise BQLError(f"{ast.action.upper()} outside a transaction")
        if ast.action == "rollback":
            self.catalog = self._txn_snapshot
            for name, df in self.catalog.tables.items():
                df.createOrReplaceTempView(name)
        self._txn_snapshot = None
        self.refresh_metadata_views()
        return self._ok(ast.action)

    def _catalog_snapshot(self) -> "Catalog":
        import copy

        snap = Catalog()
        snap.populations = copy.deepcopy(self.catalog.populations)
        snap._next_id = self.catalog._next_id
        snap.tables = dict(self.catalog.tables)
        snap.generators = copy.deepcopy(self.catalog.generators)
        return snap

    def savepoint(self):
        """Nested savepoint context manager (reference ``bdb.savepoint()``,
        src/txn.py:27-52): catalog changes inside the block roll back on
        exception, commit on clean exit. Nesting works — each level
        snapshots independently. Data immutability makes catalog state the
        entire mutable surface (same divergence note as BEGIN/COMMIT)."""
        from contextlib import contextmanager

        @contextmanager
        def _sp():
            snap = self._catalog_snapshot()
            try:
                yield self
            except BaseException:
                self.catalog = snap
                for name, df in self.catalog.tables.items():
                    df.createOrReplaceTempView(name)
                self.refresh_metadata_views()
                raise

        return _sp()

    def savepoint_rollback(self):
        """Savepoint that ALWAYS rolls back on exit (reference
        ``bdb.savepoint_rollback()``, src/txn.py:88-121) — run hypothetical
        mutations, observe results, then undo."""
        from contextlib import contextmanager

        @contextmanager
        def _sp():
            snap = self._catalog_snapshot()
            try:
                yield self
            finally:
                self.catalog = snap
                for name, df in self.catalog.tables.items():
                    df.createOrReplaceTempView(name)
                self.refresh_metadata_views()

        return _sp()

    # -- REGRESS -------------------------------------------------------------
    def _exec_Regress(self, ast: A.Regress) -> DataFrame:
        """Simulate nsamples joint rows from the population, dummy-code
        nominal givens (K-1, first category dropped), fit OLS — same
        computation as the reference (src/bql.py:695-787, regress_ols
        src/regress.py:21-48) with numpy lstsq in place of sklearn.

        The simulation is model math (no data scan); the fit is on nsamples
        rows (default 100), so this is driver-side by design. For
        regression ON OBSERVED DATA at scale, use MLlib LinearRegression
        over the base DataFrame instead — this phrase is specifically
        'regress the model's joint distribution'."""
        pop = self.catalog.population(ast.population)
        gens = self._need_models(
            self._restrict_models(
                self._pop_generators(pop, ast.generator), ast.modelnos),
            "regress")
        gen = gens[0]
        target = ast.target.lower()
        givens: list[str] = []
        for g in ast.givens:
            if isinstance(g, A.ProjectionSub):
                sub = self.execute(g.query)
                givens.extend(str(r[0]).lower() for r in sub.collect())
            elif g == "*":
                givens.extend(v.name.lower() for v in pop.modeled_variables()
                              if v.name.lower() != target)
            else:
                givens.append(g.lower())
        seen: set[str] = set()
        givens = [g for g in givens
                  if g != target and not (g in seen or seen.add(g))]
        if pop.variables[target].stattype == "nominal":
            raise BQLError("REGRESS target must be numerical")
        data = self.backend(gen.backend).simulate_joint(
            gen, [target] + givens, self._ns(ast.nsamples), [], self.seed
        )
        pdf = pd.DataFrame(data, columns=[target] + givens)
        y = pdf[target].astype(float).to_numpy()
        names = ["intercept"]
        cols = [np.ones(len(pdf))]
        for g in givens:
            if pop.variables[g].stattype == "nominal":
                cats = sorted(pdf[g].astype(str).unique())
                for cat in cats[1:]:  # K-1 dummy coding
                    names.append(f"{g}_{cat}")
                    cols.append((pdf[g].astype(str) == cat).astype(float).to_numpy())
            else:
                names.append(g)
                cols.append(pdf[g].astype(float).to_numpy())
        X = np.column_stack(cols)
        beta, *_ = np.linalg.lstsq(X, y, rcond=None)
        return local_frame(
            self.spark, [(n, float(b)) for n, b in zip(names, beta)],
            "variable string, coefficient double",
        )

    # -- INFER ---------------------------------------------------------------
    def _row_join_key(self, pop: Population, gens: list[Generator],
                      what: str) -> str:
        """The key column per-row model tables join on (declared KEY, or
        the frozen ingest _rowid_ fallback) — it must exist in the scan."""
        keycol = gens[0].state.get("key")
        if keycol is None or keycol not in self.table(pop.table).columns:
            raise BQLError(
                f"row-context {what} needs a KEY variable "
                "or an ingested _rowid_ column")
        return keycol

    def _relevance_join(self, df: DataFrame, pop: Population,
                        gens: list[Generator], est: A.EstimatorCall,
                        tag: str) -> tuple[DataFrame, Column, str]:
        """Left-join the per-row relevance table for a row-context
        PREDICTIVE RELEVANCE item; returns the augmented df, the value
        column, and its name. The join is a plain equi-join on the row
        key — the relevance table has one row per base row, so it must
        NOT be forced broadcast (AQE promotes it when actually small)."""
        gens = self._need_models(gens, "predictive relevance")
        g = gens[0]
        keycol = self._row_join_key(pop, gens, "PREDICTIVE RELEVANCE")
        be = self.backend(g.backend)
        if not hasattr(be, "relevance_table"):
            raise NotImplementedError(
                f"{g.backend}: per-row predictive relevance")
        existing = (self._resolve_rowkeys(pop, est.targets["existing"])
                    if est.targets["existing"] is not None else [])
        hypo = [
            {c.lower(): self._eval_scalar(v) for c, v in row}
            for row in est.targets["hypothetical"]
        ]
        rel = be.relevance_table(g, self._context_variable(pop, gens, est.targets["context"]), existing, hypo)
        tag = f"__rel{tag}"
        rel = rel.select(F.col("rowkey").alias(f"{tag}_k"),
                         F.col("relevance").alias(f"{tag}_v"))
        df = df.join(rel, df[keycol] == F.col(f"{tag}_k"), "left")
        return df, F.col(f"{tag}_v"), f"{tag}_v"

    def _similarity_join(self, df: DataFrame, pop: Population,
                         gens: list[Generator], est: A.EstimatorCall,
                         tag: str) -> tuple[DataFrame, Column, str]:
        """Row-context SIMILARITY TO (expr): similarity of EACH scanned row
        to the target row in the context view (reference compiles OF to
        ``_rowid_``, src/compiler.py:1340-1353). Similarity of row r to
        target t equals relevance of r to the singleton query set {t} —
        the per-(model, cluster) weight table from ``relevance_table``
        reduces to the target's cluster indicator — so the same broadcast
        equi-join against the assignment table serves both; generators
        average with equal weight (reference src/bqlfn.py:413-426)."""
        gens = self._need_models(gens, "similarity")
        keycol = self._row_join_key(pop, gens, "SIMILARITY")
        target = self._resolve_rowkey(pop, est.targets["to"])
        frames = []
        for g in gens:
            be = self.backend(g.backend)
            if not hasattr(be, "relevance_table"):
                raise NotImplementedError(f"{g.backend}: per-row similarity")
            frames.append(
                be.relevance_table(g, self._context_variable(pop, gens, est.targets["context"]), [target], []))
        allf = frames[0]
        for f in frames[1:]:
            allf = allf.unionAll(f)
        sim = allf.groupBy("rowkey").agg(
            (F.sum("relevance") / len(frames)).alias("similarity"))
        tag = f"__sim{tag}"
        sim = sim.select(F.col("rowkey").alias(f"{tag}_k"),
                         F.col("similarity").alias(f"{tag}_v"))
        df = df.join(sim, df[keycol] == F.col(f"{tag}_k"), "left")
        return df, F.col(f"{tag}_v"), f"{tag}_v"

    _DENSITY_DISTINCT_CAP = 65536

    def _density_row_dependent(self, est: A.EstimatorCall, df: DataFrame) -> bool:
        """True when a PROBABILITY DENSITY value expression references the
        scanned row (reference compiles the expression into bql_pdf_joint's
        argument and evaluates it per row, tests/test_bql.py:2655-2663)."""
        import re as _re

        cols = {c.lower() for c in df.columns}
        for _, v in (list(est.targets["targets"]) + list(est.targets["givens"])):
            if not isinstance(v, str):
                continue
            stripped = _re.sub(r"'[^']*'", "", v)
            idents = {t.lower()
                      for t in _re.findall(r"[A-Za-z_][A-Za-z_0-9]*", stripped)}
            if idents & cols:
                return True
        return False

    def _density_row_join(self, df: DataFrame, pop: Population,
                          gens: list[Generator], est: A.EstimatorCall,
                          tag: str) -> tuple[DataFrame, Column, str]:
        """Row-context PROBABILITY DENSITY with row-referencing value
        expressions. Spark-first: ONE DISTINCT pass over the evaluated
        value tuples, each distinct tuple scored once with the constant
        form's model math, scores broadcast-joined back — per-row Python
        never runs and the job count is independent of row count. Exact
        for nominal-valued expressions (small domains); a continuous
        expression whose domain exceeds the cap is refused with guidance
        (PREDICTIVE PROBABILITY is the per-row-density operator)."""
        gens = self._need_models(gens, "probability_density")
        targets = list(est.targets["targets"])
        givens = list(est.targets["givens"])
        exprs = [v for _, v in targets] + [v for _, v in givens]
        tag = f"__den{tag}"
        vtags = [f"{tag}_x{k}" for k in range(len(exprs))]
        aug = df.withColumns({t: self._expr(v) for t, v in zip(vtags, exprs)})
        rows = (aug.select(*vtags).distinct()
                .limit(self._DENSITY_DISTINCT_CAP + 1).collect())
        if len(rows) > self._DENSITY_DISTINCT_CAP:
            raise BQLError(
                "PROBABILITY DENSITY over a row expression with more than "
                f"{self._DENSITY_DISTINCT_CAP} distinct values; use "
                "PREDICTIVE PROBABILITY for per-row densities of "
                "continuous columns")
        out_rows = []
        for r in rows:
            tvals = [(c.lower(), r[vtags[j]]) for j, (c, _) in enumerate(targets)]
            gvals = [(c.lower(), r[vtags[len(targets) + j]])
                     for j, (c, _) in enumerate(givens)]
            if any(v is None for _, v in tvals):
                dens = None  # NULL value -> NULL density (SQL semantics)
            else:
                lps = [
                    logmeanexp(self.backend(g.backend).logpdf_joint_per_model(
                        g, tvals, gvals))
                    for g in gens
                ]
                dens = math.exp(logmeanexp(lps))
            out_rows.append(tuple(r[t] for t in vtags) + (dens,))
        spark = df.sparkSession
        score_schema = T.StructType(
            [aug.schema[t] for t in vtags]
            + [T.StructField(f"{tag}_v", T.DoubleType())])
        scores = spark.createDataFrame(out_rows, score_schema)
        cond = None
        for t in vtags:
            c = aug[t].eqNullSafe(scores[t])
            cond = c if cond is None else (cond & c)
        joined = aug.join(F.broadcast(scores), cond, "left")
        for t in vtags:
            joined = joined.drop(scores[t]).drop(aug[t])
        return joined, F.col(f"{tag}_v"), f"{tag}_v"

    def _row_prediction_table(self, pop: Population, gen: Generator, column: str):
        """Row-conditional predictions (rowkey, predicted, confidence) when
        the backend supports them and the population has a key; None ->
        caller falls back to the marginal constant."""
        be = self.backend(gen.backend)
        keycol = gen.state.get("key")
        if (keycol is None or keycol not in self.table(pop.table).columns
                or not hasattr(be, "row_predict_table")):
            return None
        try:
            return keycol, be.row_predict_table(gen, column.lower())
        except ValueError:
            return None

    @staticmethod
    def _impute_dtype(df: DataFrame, pop: Population, name: str) -> str:
        """Cast target for imputed values. An all-NULL column scans as
        VOID (NullType) — nothing casts TO void, so fall back to the
        stattype's natural type (the reference never hits this because
        SQLite columns are dynamically typed)."""
        dtype = dict(df.dtypes)[name]
        if dtype == "void":
            var = pop.variables.get(name.lower())
            return "double" if var is not None and var.stattype == "numerical" else "string"
        return dtype

    def _infer_column(self, df: DataFrame, pop: Population, gen: Generator,
                      name: str, threshold: float,
                      nsamples: int | None = None) -> DataFrame:
        """Impute NULLs of one column into df (keeps all other columns).
        ``nsamples`` reaches the sampling predict path; the row-prediction
        table path is closed-form (exact), so the reference's sample count
        has nothing to tune there."""
        rp = self._row_prediction_table(pop, gen, name)
        dtype = self._impute_dtype(df, pop, name)
        if rp is not None:
            keycol, pred = rp
            pred = pred.select(
                F.col("rowkey").alias("__pk"),
                F.col("predicted").cast(dtype).alias("__pred"),
                F.col("confidence").alias("__conf"),
            )
            joined = df.join(pred, df[keycol] == F.col("__pk"), "left")
            imputed = F.when(
                F.col(name).isNull() & (F.col("__conf") >= threshold), F.col("__pred")
            ).otherwise(F.col(name))
            return joined.withColumn(name, imputed).drop("__pk", "__pred", "__conf")
        val, conf = self.backend(gen.backend).predict_confidence(
            gen, name.lower(), self.seed, nsamples=nsamples)
        if conf >= threshold:
            return df.withColumn(name, F.coalesce(F.col(name), F.lit(val).cast(dtype)))
        return df

    def _exec_Infer(self, ast: A.Infer) -> DataFrame:
        pop = self.catalog.population(ast.population)
        gens = self._need_models(
            self._restrict_models(
                self._pop_generators(pop, ast.generator), ast.modelnos),
            "infer")
        df = self.table(pop.table)
        wanted = (
            [v.name for v in pop.modeled_variables()]
            if ast.columns == ["*"]
            else [pop.variables[c.lower()].name for c in ast.columns]
        )
        # WHERE sees the base table's PRE-imputation values, per SQLite
        # scoping (reference compile_infer_auto emits SELECT IFNULL(...) AS x
        # FROM t WHERE cond — cond binds base x); filtering first also
        # shrinks the imputation input. Alias-referencing predicates fall
        # back to a post-projection filter.
        out = df
        pre_filtered = False
        if ast.where:
            try:
                out = df.filter(self._expr(ast.where))
                pre_filtered = True
            except Exception:  # noqa: BLE001 — alias-referencing WHERE
                pass
        for name in wanted:
            var = pop.variables[name.lower()]
            if var.stattype in ("numerical", "nominal"):
                out = self._infer_column(out, pop, gens[0], name, ast.confidence,
                                         nsamples=self._ns(ast.nsamples))
        out = out.select(*[
            F.col(n).alias(ast.aliases.get(n.lower(), n)) for n in wanted
        ])
        if ast.where and not pre_filtered:
            out = out.filter(self._expr(ast.where))
        if ast.group_by:
            out = self._group_project(out, ast.group_by)
        if ast.order_by:
            out = out.orderBy(*self._order_cols(ast.order_by))
        if ast.limit is not None:
            out = out.limit(ast.limit)
        return out

    def _exec_InferExplicit(self, ast: A.InferExplicit) -> DataFrame:
        pop = self.catalog.population(ast.population)
        gens = self._need_models(
            self._restrict_models(
                self._pop_generators(pop, ast.generator), ast.modelnos),
            "infer")
        df = self.table(pop.table)
        self._rewrite_ast_rowids(ast, pop, df)
        orig_cols = list(df.columns)
        cols: list[Column] = []
        for i, item in enumerate(ast.items):
            if isinstance(item, A.PredictItem):
                g = gens[0]
                name = item.column.lower()
                out_name = item.alias or item.column
                latents = g.state.get("latents") or {}
                if name not in pop.variables and name in latents:
                    # generator-scoped latent (LATENT/EXPOSE): no observed
                    # column exists, so the prediction IS the value —
                    # per-row from the backend's row-prediction table
                    # (cluster label / exposed foreign latent)
                    rp = self._row_prediction_table(pop, g, name)
                    if rp is None:
                        # no per-row structure (e.g. a nig_normal
                        # DEVIATION latent): the marginal constant is the
                        # prediction — reference predict_confidence
                        # returns (0, 1) for deviation colnos
                        # (nig_normal.py:382-384)
                        be = self.backend(g.backend)
                        try:
                            val, conf = be.predict_confidence(
                                g, name, self.seed,
                                nsamples=self._ns(item.nsamples))
                        except Exception as e:  # noqa: BLE001
                            raise BQLError(
                                f"cannot PREDICT latent {item.column}: "
                                f"{e}") from e
                        dtype = ("string"
                                 if latents[name]["stattype"] == "nominal"
                                 else "double")
                        cols.append(
                            F.lit(val).cast(dtype).alias(out_name))
                        if item.confidence_name:
                            cols.append(F.lit(float(conf))
                                        .alias(item.confidence_name))
                        continue
                    keycol, pred = rp
                    tag = f"__p{i}"
                    dtype = ("string" if latents[name]["stattype"] == "nominal"
                             else "double")
                    pred = pred.select(
                        F.col("rowkey").alias(f"{tag}_k"),
                        F.col("predicted").cast(dtype).alias(f"{tag}_v"),
                        F.col("confidence").alias(f"{tag}_c"),
                    )
                    df = df.join(pred, df[keycol] == F.col(f"{tag}_k"), "left")
                    cols.append(F.col(f"{tag}_v").alias(out_name))
                    if item.confidence_name:
                        cols.append(F.col(f"{tag}_c").alias(item.confidence_name))
                    continue
                if name not in pop.variables:
                    # reference: unknown PREDICT target is a semantic error
                    # (tests/test_bql.py:2430-2437 expects BQLError)
                    raise BQLError(
                        f"no such variable in population {pop.name}: {name}")
                dtype = self._impute_dtype(df, pop, pop.variables[name].name)
                rp = self._row_prediction_table(pop, g, name)
                if rp is not None:
                    keycol, pred = rp
                    tag = f"__p{i}"
                    pred = pred.select(
                        F.col("rowkey").alias(f"{tag}_k"),
                        F.col("predicted").cast(dtype).alias(f"{tag}_v"),
                        F.col("confidence").alias(f"{tag}_c"),
                    )
                    df = df.join(pred, df[keycol] == F.col(f"{tag}_k"), "left")
                    if item.confidence is not None:
                        # threshold form (PREDICT c WITH CONFIDENCE p,
                        # grammar.y:681): impute only above-threshold
                        # predictions, NULL otherwise (bql_predict,
                        # reference src/backend.py:233-240)
                        cols.append(F.coalesce(
                            F.col(item.column),
                            F.when(F.col(f"{tag}_c") >= float(item.confidence),
                                   F.col(f"{tag}_v")),
                        ).alias(out_name))
                        continue
                    cols.append(
                        F.coalesce(F.col(item.column), F.col(f"{tag}_v")).alias(out_name)
                    )
                    if item.confidence_name:
                        cols.append(
                            F.when(F.col(item.column).isNull(), F.col(f"{tag}_c"))
                            .otherwise(F.lit(1.0))
                            .alias(item.confidence_name)
                        )
                    continue
                val, conf = self.backend(g.backend).predict_confidence(
                    g, name, self.seed, nsamples=self._ns(item.nsamples))
                if item.confidence is not None and conf < item.confidence:
                    cols.append(F.col(item.column).alias(out_name))
                    continue
                cols.append(
                    F.coalesce(F.col(item.column), F.lit(val).cast(dtype)).alias(out_name)
                )
                if item.confidence_name:
                    conf_col = (
                        F.when(F.col(item.column).isNull(), F.lit(conf)).otherwise(F.lit(1.0))
                    )
                    cols.append(conf_col.alias(item.confidence_name))
            else:
                name = self._item_name(item, i)
                if isinstance(item.expr, A.ProjectionSub):
                    # subquery-determined projection: the reference refuses
                    # this inside INFER EXPLICIT (NotImplementedError,
                    # tests/test_bql.py:2359-2361) because its JSON-unpack
                    # wrapper needs explicit lists; the two-phase expansion
                    # (subquery strings -> column names) works here
                    sub = self.execute(item.expr.query)
                    cols.extend(F.col(str(r[0])) for r in sub.collect())
                elif isinstance(item.expr, A.RawSQL):
                    if item.expr.sql == "*":
                        cols.extend(F.col(c) for c in orig_cols)
                    else:
                        cols.append(F.expr(item.expr.sql).alias(name))
                else:
                    cols.append(
                        self._predictive_probability_col(df, pop, gens, item.expr).alias(name)
                        if item.expr.kind == "predictive_probability"
                        else F.lit(self._estimator_constant(item.expr, pop, gens)).alias(name)
                    )
        out = df.select(*cols)
        if ast.where:
            out = out.filter(self._expr(ast.where))
        if ast.group_by:
            out = self._group_project(out, ast.group_by)
        if ast.order_by:
            out = out.orderBy(*self._order_cols(ast.order_by))
        if ast.limit is not None:
            out = out.limit(ast.limit)
        return out
