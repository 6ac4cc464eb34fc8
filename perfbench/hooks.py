"""Span wrappers around the engine's public serving calls (traced run only).

The benchmark calls the engine exactly as in an untraced run; in a traced
run these wrappers replace the module attributes the engine looks up at call
time, so each inner call (tokenize, fetch+decode, score) becomes a child span
of the benchmark's operation span, with its counters attached.
"""

from __future__ import annotations

import functools


def _wrap(owner, attr: str, span_name: str, tracer, after=None, before=None):
    fn = getattr(owner, attr)

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if before is not None:
            args, kwargs = before(args, kwargs)
        with tracer.span(span_name) as rec:
            out = fn(*args, **kwargs)
            if after is not None:
                after(rec, args, kwargs, out)
        return out

    setattr(owner, attr, wrapper)
    return fn


def install(tracer) -> list:
    """Wrap the serving calls; returns [(owner, attr, original)] for remove()."""
    import olaf_spark.incremental as inc
    import olaf_spark.phrase as phrase
    import olaf_spark.wand as wand

    def rows(rec, _a, _k, out):
        rec["posting_rows"] = len(out)

    def want_stats(args, kwargs):
        if kwargs.get("stats_out") is None:
            kwargs = dict(kwargs, stats_out={})
        return args, kwargs

    def blocks(rec, _a, kwargs, _out):
        rec.update(kwargs["stats_out"])

    patched = []
    for owner in (wand, inc, phrase):
        patched.append((owner, "tokenize_py", _wrap(owner, "tokenize_py", "tokenize", tracer)))
    patched.append((wand, "load_term_postings",
                    _wrap(wand, "load_term_postings", "wand.fetch", tracer, after=rows)))
    patched.append((wand, "vectorized_topk", _wrap(wand, "vectorized_topk", "wand.score", tracer)))
    patched.append((inc.IndexGroup, "load_term_postings_raw",
                    _wrap(inc.IndexGroup, "load_term_postings_raw", "group.fetch", tracer, after=rows)))
    patched.append((inc, "blockmax_topk",
                    _wrap(inc, "blockmax_topk", "group.score", tracer, after=blocks, before=want_stats)))
    return patched


def remove(patched: list) -> None:
    for owner, attr, fn in reversed(patched):
        setattr(owner, attr, fn)
