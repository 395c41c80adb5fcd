"""Custom stateful streaming operator: incremental entity registry.

``applyInPandasWithState`` keyed by the normalized mention form. State =
the set of aliases seen so far for that entity key; each micro-batch
emits only the aliases that are NEW, so downstream (an entity table
upsert, a notification topic) sees each (entity, alias) exactly once
across the life of the stream. Not expressible with built-in streaming
dropDuplicates: the key is the *normalized* form while the emitted value
is the raw alias, and the per-key state must outlive any single batch.

The batch pipeline's normalize_mention is reused so the streaming registry
and the batch entity linker agree on entity keys.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .. import expr as S
from ..kg.link import normalize_mention

OUTPUT_SCHEMA = "entity_key string, mention string, n_known int"
STATE_SCHEMA = "aliases string"
_SEP = "\x00"


def _registry_update(
    key: tuple, pdfs: Iterable, state: GroupState
) -> Iterator[Any]:
    import pandas as pd

    seen: set[str] = set()
    if state.exists:
        (packed,) = state.get
        if packed:
            seen = set(packed.split(_SEP))
    fresh: list[str] = []
    for pdf in pdfs:
        for m in pdf["mention"]:
            if m is not None and m not in seen:
                seen.add(m)
                fresh.append(m)
    state.update((_SEP.join(sorted(seen)),))
    if fresh:
        yield pd.DataFrame({
            "entity_key": key[0],
            "mention": fresh,
            "n_known": len(seen),
        })


def incremental_entity_registry(mentions: DataFrame) -> DataFrame:
    """mentions(mention) [streaming] -> stream of first-seen
    (entity_key, mention, n_known) rows."""
    keyed = mentions.selectExpr(
        normalize_mention(S.col("mention")).alias("entity_key").sql,
        "mention")
    return keyed.groupBy("entity_key").applyInPandasWithState(
        _registry_update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
