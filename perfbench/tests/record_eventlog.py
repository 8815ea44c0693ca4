"""Re-record the event-log fixture the parser tests read.

    python3 perfbench/tests/record_eventlog.py

Runs a JVM-only query (``q1_pricing_summary``) and then an Arrow UDF
query (``multimodal_audio_spectral``) on sf0.001 tables at ``local[2]``
with ``spark.eventLog.enabled``, and keeps only the events and fields the
parser reads — no environment, properties or plan text, so the fixture
holds no host paths. Writes ``data/eventlog_sf0.001.jsonl`` and
``data/eventlog_sf0.001.ops.json`` (when the Arrow query started).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
OUT = os.path.join(HERE, "data")

_KEEP = {
    "SparkListenerJobStart": ("Job ID", "Submission Time", "Stage IDs"),
    "SparkListenerJobEnd": ("Job ID", "Completion Time"),
    "SparkListenerTaskEnd": ("Stage ID", "Stage Attempt ID", "Task Info", "Task Metrics"),
}


def _plan(node: dict) -> dict:
    return {
        "nodeName": node.get("nodeName", ""),
        "metrics": node.get("metrics", []),
        "children": [_plan(c) for c in node.get("children", [])],
    }


def scrub(ev: dict) -> dict | None:
    kind = ev.get("Event", "")
    if kind in _KEEP:
        return {"Event": kind, **{k: ev[k] for k in _KEEP[kind] if k in ev}}
    if kind == "SparkListenerStageSubmitted":
        return {"Event": kind, "Stage Info": {"Stage ID": ev["Stage Info"]["Stage ID"]}}
    if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
        return {"Event": kind, "executionId": ev.get("executionId"),
                "sparkPlanInfo": _plan(ev.get("sparkPlanInfo", {}))}
    return None


def main() -> None:
    sys.path.insert(0, ROOT)
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="perfbench-record-", dir=os.path.join(ROOT, ".perfbench"))
    os.environ["PYTHONPATH"] = ROOT
    try:
        from perfbench import datagen

        data = datagen.ensure(work, 0.001)
        logs = os.path.join(work, "eventlog")
        os.makedirs(logs)
        import __spark_entry__ as entry
        from jobanalytics_bigdataproject_spark.session import get_spark

        spark = get_spark("record", cpus=2, driver_memory="1g", extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true", "spark.eventLog.dir": "file://" + logs,
            "spark.eventLog.rolling.enabled": "false", "spark.eventLog.compress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        })
        q = entry.queries()
        q["q1_pricing_summary"](spark, data).write.format("noop").mode("overwrite").save()
        time.sleep(0.05)
        mark = int(time.time() * 1000)
        q["multimodal_audio_spectral"](spark, data).write.format("noop").mode("overwrite").save()
        spark.stop()
        [log] = os.listdir(logs)
        with open(os.path.join(logs, log)) as src, \
                open(os.path.join(OUT, "eventlog_sf0.001.jsonl"), "w") as dst:
            for line in src:
                ev = scrub(json.loads(line))
                if ev is not None:
                    dst.write(json.dumps(ev) + "\n")
        with open(os.path.join(OUT, "eventlog_sf0.001.ops.json"), "w") as f:
            json.dump({"arrow_op_start_ms": mark}, f)
            f.write("\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
