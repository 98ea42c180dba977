"""LocalFeatureService: request-time (on-demand) feature serving
(reference feature_service/local_feature_service.py:51-146).

``get_online_features(request_df, view)`` joins the latest online-store rows
by key and evaluates expression features in-process over column arrays
(``ExprAST.evaluate``, with Spark's non-ANSI semantics), so an expression
serves the values the batch and stream paths compute, without paying a
Spark job per request.

Cost of one call: one store ``lookup`` per table the view looks up (all of
a table's features in one lookup, each proportional to the request), then
one in-process evaluation per expression feature over the arrays already
held, each a few Arrow compute calls on request-sized arrays (each
expression string is parsed once per process).  From lookup to evaluation
to the served frame the service moves column arrays: a read builds one
pandas frame, the served one (a view with a Python UDF feature also builds
the frame the UDF iterates over).  The service holds no per-call state, so
concurrent calls share it safely.
"""

from __future__ import annotations

from typing import Any, Dict

import pandas as pd

from feathub_spark.common.exceptions import FeathubError
from feathub_spark.dsl.parser import evaluate
from feathub_spark.feature_views.on_demand_feature_view import OnDemandFeatureView
from feathub_spark.online_stores.memory_online_store import MemoryOnlineStore, served


class LocalFeatureService:
    def __init__(self, online_store: MemoryOnlineStore = None) -> None:
        self.online_store = online_store or MemoryOnlineStore.get_instance()

    def get_online_features(
        self, request_df: pd.DataFrame, view: OnDemandFeatureView
    ) -> pd.DataFrame:
        columns = self._lookup(request_df, view.lookup_features())
        for feature in view.expression_features():
            columns[feature.name] = self._eval_expression(columns, len(request_df), feature)
        if not view.keep_source_fields:
            # strip: the lookup regex tolerates padded feature strings
            # ('tbl.feat '), so the projection name must too, or the
            # fetched column silently drops from the output
            names = [
                f.name if not isinstance(f, str) else f.split(".", 1)[1].strip()
                for f in view.features
            ]
            # a name served twice (a looked-up key field, a name looked up
            # from two tables, an expression named like a lookup) is served
            # once, where it first appears, with the value the view computed
            keep = dict.fromkeys([*request_df.columns, *names])
            columns = {c: columns[c] for c in keep if c in columns}
        return pd.DataFrame({c: served(v) for c, v in columns.items()})

    def _lookup(self, request: pd.DataFrame, lookups) -> Dict[str, Any]:
        """The request's columns and the looked-up features, as column
        arrays by name, from one store ``lookup`` per table.  They are what
        one ``get`` per feature in declaration order would serve: the stored
        value wins a name clash, so a name looked up twice takes the later
        table's value and moves to the end, after the request columns it
        replaces."""
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
        found = {}
        for table, names in features.items():
            # a key an earlier table looked up is matched by that value
            by = {
                k: served(found[k]) if k in found else request[k].values
                for k in keys[table]
            }
            found.update(store.lookup(table, by, names))
        columns = {c: request[c].values for c in request.columns if c not in owner}
        columns.update((feature, found[feature]) for feature in order)
        return columns

    def _eval_expression(self, columns: Dict[str, Any], num_rows: int, feature):
        from feathub_spark.feature_views.transforms.expression_transform import (
            ExpressionTransform,
        )
        from feathub_spark.feature_views.transforms.python_udf_transform import (
            PythonUdfTransform,
        )

        tr = feature.transform
        if isinstance(tr, PythonUdfTransform):
            values = []
            frame = pd.DataFrame({c: served(v) for c, v in columns.items()}, copy=False)
            for _, row in frame.iterrows():
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
        # pandas reads a NULL number as NaN, a NULL bool or string as None
        return evaluate(tr.expr, columns, num_rows).to_numpy(zero_copy_only=False)
