"""perfbench's traced pass (``--trace 1``) wraps engine, lake, planner and
state attributes by name (``perfbench/spans.py`` ``Tracer.install``). This
checks that every wrapped name exists, that a wrapper records its span, and
that ``uninstall`` puts every original back, so a rename in the package fails
here rather than in a traced benchmark run."""

import os

from gobblin_spark import planner

PERFBENCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench"
)


def test_tracer_install_wraps_and_uninstall_restores(monkeypatch):
    monkeypatch.syspath_prepend(PERFBENCH)
    from spans import Tracer

    tracer = Tracer()  # no SparkContext: spans are recorded, not tagged
    try:
        tracer.install()
        patched = list(tracer._patches)
        assert patched
        for owner, attr, orig in patched:
            assert getattr(owner, attr) is not orig, (owner, attr)
        planner.plan_batches({0: 9}, {0: -1})
        assert [s["name"] for s in tracer.spans] == ["planner.plan"]
    finally:
        tracer.uninstall()
    for owner, attr, orig in patched:
        assert getattr(owner, attr) is orig, (owner, attr)
    assert not tracer._patches
