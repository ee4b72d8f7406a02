"""Multi-JVM lane (VERDICT r9 task 2): drive the engine on
``local-cluster[2,4,2048]`` — two REAL executor JVMs — via
scripts/local_cluster_probe.py in a subprocess (the probe needs its
own SparkSession with a different master, which must not clobber the
suite's session singleton).

What one big JVM can never prove, this lane does:
- `materialize` takes the reliable paths (replicated persist /
  `df.checkpoint()`) and iterative + determinism-critical operators
  stay oracle-exact under them across process boundaries;
- cloudpickled executor-side sinks (distributed flow control) cross
  a real process boundary with chunk-granular DLQ, zero loss;
- the driver-side token escrow (the one distributed budget) is
  dialed from real separate worker processes — the deployment
  question for a cluster-global rate limiter — and its permits hold
  the in-flight cap across them;
- RocksDB-backed stateful streaming (JNI inside each executor
  process) stays oracle-exact;
- headline plans (broadcast star, window frame, graph rounds, the
  salted CPU-bound pair join, the repartitioned ROUGE kernel) stay
  oracle-exact across executors.

First run of this lane caught a real deployment gap: executor python
workers do not inherit the driver's sys.path, so package-referencing
callbacks die with ModuleNotFoundError unless the package ships
(--py-files / PYTHONPATH) — recorded in SCALE.md. Since r12 the
packaged path is itself a check: `wheel_deploy` builds the engine
wheel (scripts/build_wheel.py) and drives a fresh subprocess driver
whose ONLY route to the engine — driver and executors — is that
artifact over the --py-files machinery (VERDICT r11 #5).

Marked `local_cluster`; skip with SPARK_GRAFT_SKIP_LOCAL_CLUSTER=1 on
constrained hosts (spawns 2×2 GiB executor JVMs, ~3-4 min).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

pytestmark = pytest.mark.local_cluster

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_SKIP_LOCAL_CLUSTER") == "1",
    reason="local-cluster lane disabled by env",
)
def test_local_cluster_probe_all_green(tmp_path):
    out = tmp_path / "probe.json"
    proc = subprocess.run(
        [sys.executable, "-m", "scripts.local_cluster_probe", "--out", str(out)],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert out.exists(), (
        f"probe produced no artifact\nexit={proc.returncode}\n"
        f"stdout:\n{proc.stdout[-2000:]}\nstderr:\n{proc.stderr[-4000:]}"
    )
    payload = json.loads(out.read_text())
    assert payload["master"] == "local-cluster[2,4,2048]"
    failing = {k: v for k, v in payload["checks"].items() if v != "pass"}
    assert proc.returncode == 0 and not failing, (
        f"multi-JVM checks failed: {json.dumps(failing, indent=2)}\n"
        f"stderr tail:\n{proc.stderr[-4000:]}"
    )
    # the lane exercised every family it claims to
    names = set(payload["checks"])
    assert {
        "materialize_fallback_replicated_persist",
        "materialize_reliable_checkpoint",
        "snm_block_ids_deterministic",
        "distributed_flow_dlq",
        "escrow_budget",
        "escrow_permits",
    } <= names
    assert sum(k.startswith("parity:") for k in names) >= 6
