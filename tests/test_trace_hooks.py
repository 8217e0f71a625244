"""The benchmark's outside-in tracer (perfbench/tracing.py) wraps engine
entry points by name; a renamed or removed entry point makes its install
raise, which would only surface in a ``--trace 1`` benchmark run.  No
Spark session needed."""


def test_tracer_installs_and_restores_every_entry_point():
    from perfbench.tracing import Recorder, install, uninstall

    rec = Recorder()
    install(rec)
    try:
        wrapped = [(owner, attr, orig) for owner, attr, orig in rec.undo]
        assert wrapped
        for owner, attr, orig in wrapped:
            assert owner.__dict__[attr] is not orig, attr
    finally:
        uninstall(rec)
    for owner, attr, orig in wrapped:
        assert owner.__dict__[attr] is orig, attr
