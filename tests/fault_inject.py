"""Run the validate CLI with one crash injected by monkeypatching — the
kill/resume tests' driver (tests/test_kill_resume.py).

    python tests/fault_inject.py <fault> <n> <validate args...>

The process dies with ``os._exit(FAULT_EXIT)`` (no cleanup, no flush, as a
kill would) at the ``n``-th occurrence of the fault point:

    after_sink    right after lio.write_violations returns: the batch's sink
                  files are written, its journal lines are not
    torn_line     inside ckpt.save_manifest: the batch's lines are appended,
                  then the last one is cut in half
    before_clean  when the batch starts building its --clean-out rows: the
                  sink is written, the clean output and the verdicts are not
    none          no fault: a plain run
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lyra_spark import checkpoint as ckpt  # noqa: E402
from lyra_spark import engine  # noqa: E402
from lyra_spark import io as lio  # noqa: E402

FAULT_EXIT = 71


def _on_nth(n: int, real, fault):
    calls = 0

    def wrapped(*args, **kwargs):
        nonlocal calls
        calls += 1
        if calls != n:
            return real(*args, **kwargs)
        return fault(*args, **kwargs)

    return wrapped


def _die():
    sys.stdout.flush()
    os._exit(FAULT_EXIT)


def inject(fault: str, n: int) -> None:
    if fault == "after_sink":
        real = lio.write_violations

        def sink_then_die(*args, **kwargs):
            real(*args, **kwargs)
            _die()

        lio.write_violations = _on_nth(n, real, sink_then_die)
    elif fault == "torn_line":
        real = ckpt.save_manifest

        def tear_last_line(checkpoint_dir, m):
            path = real(checkpoint_dir, m)
            with open(path, "rb") as f:
                data = f.read()
            last = data.rfind(b"\n", 0, len(data) - 1) + 1
            with open(path, "r+b") as f:
                f.truncate(last + (len(data) - last) // 2)
            _die()

        ckpt.save_manifest = _on_nth(n, real, tear_last_line)
    elif fault == "before_clean":
        engine.clean_rows = _on_nth(n, engine.clean_rows, lambda *a, **k: _die())
    elif fault != "none":
        raise SystemExit(f"unknown fault {fault!r}")


if __name__ == "__main__":
    inject(sys.argv[1], int(sys.argv[2]))
    from jobs.validate import main

    raise SystemExit(main(sys.argv[3:]))
