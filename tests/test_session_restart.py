"""A Spark session restart under live handles, in a fresh interpreter.

An application that stops its session and starts a new one keeps its
catalog and table handles. The module-level Column caches (catalog.py
``_ccol`` / ``_vis_pred`` / ``_bkt_col``, operators/text.py
``_gopher_base_exprs``) hold unresolved Columns, which belong to the JVM,
not to a session, so they keep serving after the restart. The read-frame
memo keys on the session, so it never serves a frame of the stopped one.
Runs in a subprocess: stopping the shared test session is not an option.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

SCRIPT = textwrap.dedent("""
    import sys
    import pixeltable_spark as pxt
    from pixeltable_spark import catalog as catmod

    root = sys.argv[1]
    s1 = pxt.get_session(shuffle_partitions=2)
    cat = pxt.Catalog(s1, root)
    t = cat.create_table("t", {"k": pxt.Int(False), "q": pxt.Float(True)})
    t.insert([{"k": i, "q": float(i)} for i in range(10)])
    t.insert([{"k": 10, "q": -1.0}])
    before = t.df()
    want = sorted(tuple(r) for r in before.select("k", "q").collect())
    want_v1 = t.df(version=1).count()
    caches = [catmod._vis_pred, catmod._bkt_col, catmod._ccol]
    sizes = [c.cache_info().currsize for c in caches]
    hits = [c.cache_info().hits for c in caches]

    s1.stop()
    s2 = pxt.get_session(shuffle_partitions=2)
    assert s2 is not s1
    assert cat.spark is s2
    after = t.df()
    assert after is not before and after.sparkSession is s2
    got = sorted(tuple(r) for r in after.select("k", "q").collect())
    assert got == want, (got, want)
    assert t.df(version=1).count() == want_v1
    # the reads reused every cached Column and built none
    info = [c.cache_info() for c in caches[:2]]
    assert [i.currsize for i in info] == sizes[:2], info
    assert all(i.hits > h for i, h in zip(info, hits)), (info, hits)
    t.insert([{"k": 11, "q": 11.0}])
    assert t.df().count() == 12
    assert catmod._ccol.cache_info().hits > hits[2]
    print("RESTART OK")
""")


def test_restart_keeps_handles_and_caches(tmp_path):
    env = dict(os.environ, PYTHONPATH=str(REPO))
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT, str(tmp_path / "wh")],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=180)
    assert out.returncode == 0 and "RESTART OK" in out.stdout, \
        out.stderr[-3000:]
