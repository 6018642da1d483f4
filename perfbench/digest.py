"""Offline digest of a plain (uncompressed, non-rolling) Spark event log.

Folds ``SparkListenerJobStart`` job-group ids and ``SparkListenerTaskEnd``
task metrics into one record per job group::

    python3 perfbench/digest.py <event-log-file>

prints ``{"<job group>": {"jobs": ..., "tasks": ..., ...}, ...}``. Jobs
without a group are filed under ``""``.
"""

from __future__ import annotations

import json
import sys

# accumulable names Spark gives the Python-UDF boundary metrics
PY_TIME = ("time to run Python workers", "time to execute Python code")
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


def _empty() -> dict:
    return {
        "jobs": 0, "tasks": 0, "run_ms": 0, "gc_ms": 0,
        "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
        "bytes_written": 0, "python_ms": 0, "python_bytes_sent": 0,
        "python_bytes_returned": 0, "first_submit_ms": None,
    }


def _accum(info: dict, names) -> int:
    total = 0
    for a in info.get("Accumulables", ()):
        if a.get("Name") in names:
            try:
                total += int(a.get("Update", 0))
            except (TypeError, ValueError):
                pass
    return total


def digest(lines) -> dict[str, dict]:
    """``lines``: the event log's JSON lines. Returns job group -> totals."""
    out: dict[str, dict] = {}
    stage_group: dict[int, str] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            rec = out.setdefault(group, _empty())
            rec["jobs"] += 1
            t = ev.get("Submission Time")
            if t is not None and (rec["first_submit_ms"] is None or t < rec["first_submit_ms"]):
                rec["first_submit_ms"] = t
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            rec = out.setdefault(stage_group.get(ev.get("Stage ID"), ""), _empty())
            rec["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            rec["run_ms"] += m.get("Executor Run Time", 0)
            rec["gc_ms"] += m.get("JVM GC Time", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            rec["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            rec["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            rec["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            rec["bytes_written"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            info = ev.get("Task Info") or {}
            rec["python_ms"] += _accum(info, PY_TIME)
            rec["python_bytes_sent"] += _accum(info, (PY_SENT,))
            rec["python_bytes_returned"] += _accum(info, (PY_RECV,))
    return out


def digest_file(path: str) -> dict[str, dict]:
    with open(path, encoding="utf-8") as f:
        return digest(f)


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: digest.py <event-log-file>")
    print(json.dumps(digest_file(sys.argv[1]), indent=1, sort_keys=True))
