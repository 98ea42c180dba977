"""OnDemandFeatureView: request-time features computed from a request
DataFrame plus online-store lookups
(reference feature_views/on_demand_feature_view.py:31-125).

Features are either ``{table}.{feature}`` strings (latest value from the
online store by key) or expression Features over request fields and
previously-declared features.  Serving evaluates the expressions
in-process over column arrays with Spark's semantics (no Spark job),
matching the reference's LocalFeatureService.
"""

from __future__ import annotations

import re
from typing import List, Sequence, Union

from feathub_spark.common.exceptions import FeathubError
from feathub_spark.table.schema import Schema
from feathub_spark.table.table_descriptor import TableDescriptor
from feathub_spark.feature_views.feature import Feature

_LOOKUP_RE = re.compile(r"^\s*([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s*$")


class OnDemandFeatureView(TableDescriptor):
    def __init__(
        self,
        name: str,
        features: Sequence[Union[str, Feature]],
        request_schema: Schema,
        keep_source_fields: bool = True,
    ) -> None:
        super().__init__(name)
        self.features = list(features)
        self.request_schema = request_schema
        self.keep_source_fields = keep_source_fields

    def build(self, registry) -> "OnDemandFeatureView":
        return self

    def lookup_features(self) -> List[tuple]:
        out = []
        for f in self.features:
            if isinstance(f, str):
                m = _LOOKUP_RE.match(f)
                if not m:
                    raise FeathubError(
                        f"OnDemandFeatureView feature {f!r} must be "
                        "'{table}.{feature}' or a Feature."
                    )
                out.append((m.group(1), m.group(2)))
        return out

    def expression_features(self) -> List[Feature]:
        return [f for f in self.features if isinstance(f, Feature)]
