"""The measurement tools share one stack: ``tools/rung.py`` runs every
scale rung, and every tool builds its session with ``bench.build_session``
(sized to the host), so none can run oversubscribed on a small one."""

import json
import math
import pathlib
import re
import sys

sys.path.insert(0, ".")
from tools import rung  # noqa: E402

REPO = pathlib.Path(__file__).resolve().parents[1]
#: the only files that build a session themselves: the headline bench
#: (whose builder everything else calls), perfbench's runner, which must
#: stand alone, and the suite's fixture
OWN_SESSION = {"bench.py", "perfbench/run.py", "tests/conftest.py"}


def test_sessions_come_from_one_builder():
    builds = re.compile(r"SparkSession\s*\.\s*builder")
    found = {
        str(path.relative_to(REPO))
        for path in REPO.rglob("*.py")
        if not any(part.startswith(".") or part == "spark-warehouse" for part in path.parts)
        and builds.search(path.read_text())
    }
    assert found == OWN_SESSION


def test_rung_reports_passes_supersteps_and_exponent(spark):
    graph = rung.run(spark, "graph", [0.0005], ["cdlp"], passes=1)
    assert graph["kind"] == "graph" and graph["passes"] == 1
    assert graph["size"]["0.0005"] > 0
    cell = graph["ops"]["cdlp"]["0.0005"]
    assert len(cell["passes"]) == len(cell["load"]) == 1
    assert cell["min_s"] == cell["median_s"] == cell["passes"][0] > 0
    assert "cotenant_cores" in cell["load"][0]
    # CDLP runs on Pregel: one superstep split per measured pass, inside it
    (steps,) = cell["supersteps"]
    assert steps and sum(steps) <= cell["passes"][0]
    assert graph["alpha"] == {}  # one scale: no exponent

    corpus = rung.run(spark, "corpus", [0.004, 0.002], ["exact_dedup"], passes=1)
    assert corpus["size"] == {"0.002": 100, "0.004": 200}
    lo, hi = (corpus["ops"]["exact_dedup"][k]["min_s"] for k in ("0.002", "0.004"))
    alpha = corpus["alpha"]["exact_dedup"]["0.002->0.004"]
    assert alpha == round(math.log(hi / lo) / math.log(2), 3)
    assert "\n" not in json.dumps(corpus)
