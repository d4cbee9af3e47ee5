"""Gateway-scoped registry of the plan-fragment ``lru_cache``s.

Several modules memoize plan-invariant Column/WindowSpec fragments at
module level (``plans/round._round_cols``, ``operators/ranking.
_rank_fragments``, the politeness/seen/canonical/parse/envelope/similarity
fragment builders): rebuilding them cost 10^2-10^3 py4j round trips of
serial driver time per crawl round or ANN invocation (perfbench's
``plans.round.construct_s``).
The cached handles are unresolved Catalyst expression trees in the driver
JVM — they survive ``SparkSession.stop()``/recreate because the py4j
GATEWAY (the JVM process) persists. What they do NOT survive is a gateway
restart (JVM death + relaunch) or a migration to a client-server protocol
where expressions are session-scoped (Spark Connect): a cache hit would
then hand out dead handles that surface as an opaque ``Py4JError`` deep
inside plan construction (VERDICT r7 #4).

Every fragment cache registers here (``@register`` above the
``lru_cache`` decorator), and ``session.get_spark`` calls
``invalidate_if_new_gateway`` on every session build: when the active
gateway differs from the one the caches were populated under, all
registered caches are cleared and rebuild lazily against the new JVM.
Under the normal gateway-persists lifecycle the check is a pointer
comparison — the round-trip economy is untouched.
"""

from __future__ import annotations

_CACHES: list = []
_GATEWAY_ID: int | None = None


def register(fn):
    """Register an ``lru_cache``-wrapped fragment builder for
    gateway-scoped invalidation (apply ABOVE ``functools.lru_cache`` so
    the registered object carries ``cache_clear``)."""
    if not hasattr(fn, "cache_clear"):  # misuse guard: wrong decorator order
        raise TypeError(
            "fragments.register expects an lru_cache-wrapped function "
            f"(got {fn!r} without cache_clear)"
        )
    _CACHES.append(fn)
    return fn


def clear_all() -> None:
    for fn in _CACHES:
        fn.cache_clear()


def invalidate_if_new_gateway(gateway) -> None:
    """Clear every registered fragment cache when ``gateway`` is not the
    gateway the caches were (or would have been) populated under."""
    global _GATEWAY_ID
    gid = id(gateway)
    if _GATEWAY_ID is None:
        _GATEWAY_ID = gid
    elif gid != _GATEWAY_ID:
        clear_all()
        _GATEWAY_ID = gid
