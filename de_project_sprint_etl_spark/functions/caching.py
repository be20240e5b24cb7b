"""Generation-managed persist for multiply-scanned query intermediates.

Query builders cache frames their returned — still lazy — plan scans
several times. A bare ``persist()`` leaks one CacheManager entry per
invocation in a long-lived session (ADVICE r4); eager
``localCheckpoint`` fixes the leak but truncates to a stats-less
LogicalRDD scanned row-wise outside whole-stage codegen and the
columnar cache — measured 4x on the scd2 sweeps (4.8 s -> 19.7 s warm
at sf0.1). This helper keeps the real InMemoryRelation and bounds the
leak instead: at most ONE cached generation per (session, tag), the
previous generation unpersisted when the tag is re-invoked. A caller
still holding a plan over the evicted generation stays correct — it
just recomputes.

Use it for frames with window/join fanout; cheap low-fanout frames can
keep eager ``localCheckpoint`` (same lifecycle, no measured penalty).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: last persisted generation per (session id, tag) — the session object
#: is stored alongside so an id()-reuse after the old session is GC'd
#: can never alias a new session onto a dead session's entry (ADVICE r5)
_GENERATIONS: dict[tuple[int, str], tuple[object, DataFrame]] = {}


#: namespace -> {(id(session), *subkey): (session, value)} — the shared
#: store behind session_scoped_value (one dict per call site keeps
#: purges from scanning unrelated namespaces)
_SESSION_VALUES: dict[str, dict] = {}


def session_scoped_value(namespace: str, spark, subkey: tuple, compute):
    """Session-scoped memo with the house single-live-session contract,
    the ONE implementation behind every per-session memo: prepared
    plans (``"plans"``), fixture table scans (``"scan"``), artifact
    reads (``"artifacts"``), the fan-out decision and the fanned docs
    scan, the PCA model, and the corpus properties (IVF corpus count,
    dedup saturation rate, vocab curve, pack-assignment ranking). The
    session OBJECT is stored and identity-checked (an id() reused after
    GC can never alias a dead session's entry); entries from any other
    session are purged on insert. ``subkey`` is ``(locator,
    *fingerprint)`` — e.g. an sf_dir plus its file stats: on insert,
    SAME-session entries for the same locator with a different
    fingerprint are purged too (ADVICE r6), so a long-lived session
    that regenerates fixtures doesn't accumulate one dead value per old
    fingerprint. A ``None`` value is memoized like any other."""
    ns = _SESSION_VALUES.setdefault(namespace, {})
    key = (id(spark), *subkey)
    hit = ns.get(key)
    if hit is not None and hit[0] is spark:
        return hit[1]
    for k, (sess, _v) in list(ns.items()):
        if sess is not spark:
            ns.pop(k, None)
        elif subkey and len(k) > 1 and k[1] == subkey[0] and k != key:
            ns.pop(k, None)  # same session + locator, stale fingerprint
    val = compute()
    ns[key] = (spark, val)
    return val


def cached_generation(spark, tag: str, df: DataFrame) -> DataFrame:
    """persist ``df``, unpersisting the previous generation for this
    (session, tag) first. See module docstring for the why.

    Single-live-session contract (ADVICE r5), liveness-guarded
    (ADVICE r6): entries from a DEAD other session are evicted on
    insert — a stopped-and-replaced session's JVM-side cache died with
    its context, so holding its DataFrames here only retained dead plan
    objects (and the session they pin) forever. An entry from a LIVE
    sibling session (``spark.newSession()`` shares one SparkContext —
    its cache did NOT die) is left alone: evicting it would silently
    unpersist a live frame and make alternating sibling calls re-run
    the dominant job every time. ``unpersist`` on an evicted entry is
    best-effort: it raises on a stopped context, which is exactly the
    already-freed case.
    """

    def _dead(sess) -> bool:
        try:
            sc = sess.sparkContext
            return sc._jsc is None or sc._jsc.sc().isStopped()
        except Exception:  # noqa: BLE001 — unreachable context == dead
            return True

    for k, (sess, pdf) in list(_GENERATIONS.items()):
        if sess is not spark and _dead(sess):
            _GENERATIONS.pop(k, None)
            try:
                pdf.unpersist()
            except Exception:  # noqa: BLE001 — stopped context
                pass
    key = (id(spark), tag)
    prev = _GENERATIONS.pop(key, None)
    if prev is not None and prev[0] is spark:
        prev[1].unpersist()
    out = df.persist()
    _GENERATIONS[key] = (spark, out)
    return out
