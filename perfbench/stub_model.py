"""Deterministic answers of the enrichment stub service, keyed by concept id.

The benchmark's loopback stub (src/main/scala/perfbench/Stub.scala) answers a
POST {"concept_id": N} with `response(N)`; both sides must stay in step.
"""
TYPES = ["Disease", "Demographics", "Treatment", "Finding", "Procedure", "Gene"]


def mix(cid):
    h = (cid * 0x9E3779B1) & 0xFFFFFFFF
    return h ^ (h >> 15)


def response(cid):
    """(HTTP status, body) the stub returns for one concept id."""
    h = mix(cid)
    if h % 19 == 0:
        return 404, ""
    if h % 13 == 0:
        return 200, ""
    if h % 11 == 0:
        return 200, '{"event_and_property_types": []}'
    entries = [f"{TYPES[(h >> (3 * j)) % len(TYPES)]}:detail {j}" for j in range(1 + h % 4)]
    return 200, '{"event_and_property_types": [%s]}' % ", ".join(f'"{e}"' for e in entries)


def enriched(cid):
    """(property_types, node_type) that Enrichment derives from the answer."""
    status, body = response(cid)
    if status != 200 or '"event_and_property_types"' not in body:
        return [], None
    inner = body[body.index("[") + 1:body.index("]")]
    prefixes = [e.strip().strip('"').split(":")[0] for e in inner.split(",") if e.strip()]
    distinct = list(dict.fromkeys(prefixes))
    return distinct, (prefixes[0] if prefixes else None)
