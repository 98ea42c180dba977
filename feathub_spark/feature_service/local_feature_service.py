"""LocalFeatureService: request-time (on-demand) feature serving
(reference feature_service/local_feature_service.py:51-146).

``get_online_features(request_df, view)`` joins the latest online-store rows
by key and evaluates expression features pandas-side via DuckDB (same SQL
dialect subset our DSL lowers to, so expressions behave like the Spark
path without paying a Spark job per request).

Cost of one call: one store ``get`` per table the view looks up (all of a
table's features in one lookup, each proportional to the request), then
one query per expression feature that selects only that feature's column.
The service holds one DuckDB connection and takes a cursor from it per
expression, so concurrent calls share the connection safely.
"""

from __future__ import annotations

import pandas as pd

from feathub_spark.common.exceptions import FeathubError
from feathub_spark.dsl.parser import to_spark_sql
from feathub_spark.feature_views.on_demand_feature_view import OnDemandFeatureView
from feathub_spark.online_stores.memory_online_store import MemoryOnlineStore


def _backticks_to_ansi(sql: str) -> str:
    """Rewrite Spark identifier quoting (backticks) to ANSI double quotes
    for DuckDB — but ONLY outside single-quoted string literals: a blanket
    replace turned the literal 'x`y' into 'x\"y' and served a corrupted
    value.  Two literal escape styles must survive the trip: Spark's
    doubled quote ('') scans as two adjacent literals, and the backslash
    escapes our own generator emits (dsl/ast.py LiteralNode emits \\' and
    \\\\, which Spark accepts but ANSI DuckDB does not) are rewritten to
    their ANSI forms ('' and \\) without desyncing the in-string state."""
    out = []
    in_str = False
    i = 0
    n = len(sql)
    while i < n:
        ch = sql[i]
        if in_str:
            if ch == "\\" and i + 1 < n:
                nxt = sql[i + 1]
                if nxt == "'":
                    out.append("''")
                elif nxt == "\\":
                    out.append("\\")
                else:
                    # not emitted by our generator; keep the pair verbatim
                    out.append(ch + nxt)
                i += 2
                continue
            if ch == "'":
                in_str = False
            out.append(ch)
        else:
            if ch == "'":
                in_str = True
                out.append(ch)
            elif ch == "`":
                out.append('"')
            else:
                out.append(ch)
        i += 1
    return "".join(out)


class LocalFeatureService:
    def __init__(self, online_store: MemoryOnlineStore = None) -> None:
        import duckdb

        self.online_store = online_store or MemoryOnlineStore.get_instance()
        self._duckdb = duckdb.connect()

    def get_online_features(
        self, request_df: pd.DataFrame, view: OnDemandFeatureView
    ) -> pd.DataFrame:
        out = self._lookup(request_df.reset_index(drop=True), view.lookup_features())
        for feature in view.expression_features():
            out[feature.name] = self._eval_expression(out, feature)
        if not view.keep_source_fields:
            # strip: the lookup regex tolerates padded feature strings
            # ('tbl.feat '), so the projection name must too, or the
            # fetched column silently drops from the output
            names = [
                f.name if not isinstance(f, str) else f.split(".", 1)[1].strip()
                for f in view.features
            ]
            keys = [c for c in request_df.columns]
            out = out[[c for c in keys + names if c in out.columns]]
        return out

    def _lookup(self, out: pd.DataFrame, lookups) -> pd.DataFrame:
        """One store ``get`` per table, serving what one ``get`` per
        feature in declaration order would: the stored value wins a name
        clash, so a name looked up twice takes the later table's value and
        moves to the end, after the request columns it replaces."""
        store = self.online_store
        keys = {table: store.key_fields(table) for table, _ in lookups}
        # a lookup of one of its table's key fields only reads the request
        named = [(t, f) for t, f in lookups if f not in keys[t]]
        owner = {f: t for t, f in named}
        last = {f: i for i, (_, f) in enumerate(named)}
        order = sorted(owner, key=last.get)
        features = {table: [] for table in keys}
        for feature in order:
            features[owner[feature]].append(feature)
        for table, names in features.items():
            out = store.get(table, out, names)
        return out[[c for c in out.columns if c not in owner] + order]

    def _eval_expression(self, df: pd.DataFrame, feature):
        from feathub_spark.feature_views.transforms.expression_transform import (
            ExpressionTransform,
        )
        from feathub_spark.feature_views.transforms.python_udf_transform import (
            PythonUdfTransform,
        )

        tr = feature.transform
        if isinstance(tr, PythonUdfTransform):
            values = []
            for _, row in df.iterrows():
                try:
                    values.append(tr.udf(row))
                except Exception:
                    if tr.fail_on_exception:
                        raise
                    values.append(tr.value_on_exception)
            return values
        if not isinstance(tr, ExpressionTransform):
            raise FeathubError(
                f"OnDemandFeatureView supports expression/UDF features, got {tr!r}."
            )
        sql = _backticks_to_ansi(to_spark_sql(tr.expr))
        cursor = self._duckdb.cursor()
        try:
            cursor.register("req", df)
            result = cursor.execute(f'SELECT {sql} AS "{feature.name}" FROM req').df()
        finally:
            cursor.close()
        return result[feature.name].array
