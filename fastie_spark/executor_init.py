"""Per-executor lazy model initialization (SURVEY.md §3.2 "per-executor
model initialization") — the executor-side pattern a real subword-tokenizer
/ torch-checkpoint swap plugs into:

- artifacts are keyed by their fingerprint in a process-global cache, so
  the FIRST task on each python worker pays the build cost; later tasks
  reuse the process-global instance (``spark.python.worker.reuse`` — on by
  default — keeps python workers alive across tasks and jobs);
- an optional accumulator counts actual builds, so a test can pin
  ``inits <= n_workers < n_tasks`` and prove init-once behavior.

Reference contract being modeled: the serving app loads tokenizer+model
once per process and reuses them for every request
(/root/reference/fastie/api/app.py:85-91; offset-mapped tokenization
.../global_pointer/tokenization.py:100-129). On Spark the analogue is one
load per python worker — never one per task, batch, or row.
"""

from __future__ import annotations

from collections import OrderedDict

_CACHE: OrderedDict = OrderedDict()
_MAX_ENTRIES = 4  # distinct models resident per worker before LRU eviction


def get_or_build(cache_key: str, builder, init_acc=None):
    """Return the worker-cached artifact for cache_key, building it with
    ``builder()`` on first use. ``init_acc`` (a Spark accumulator) is
    incremented only on an actual build. Eviction is LRU one-at-a-time, so
    a driver alternating more than _MAX_ENTRIES models only rebuilds the
    coldest one — never the whole resident set."""
    got = _CACHE.get(cache_key)
    if got is None:
        while len(_CACHE) >= _MAX_ENTRIES:
            _CACHE.popitem(last=False)
        got = builder()
        _CACHE[cache_key] = got
        if init_acc is not None:
            init_acc.add(1)
    else:
        _CACHE.move_to_end(cache_key)
    return got
