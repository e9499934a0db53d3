import pickle
import sys
import types

from pyspark import cloudpickle

from perfbench.stats import self_time
from perfbench.tracing import Py4jCounter, Tracer, add_self_times, layer_of


def test_py4j_counter_skips_object_releases():
    c = Py4jCounter()
    c.observe("c\no12\nselect\ne\n")
    c.observe("m\nd\no12\ne\n")          # release: not counted
    c.observe("r\nu\norg\ne\n")
    c.observe("m\nd\no13\ne\n")
    assert c.count == 2


def test_layer_of():
    assert layer_of("etl_his_spark.sources.writers") == "sources.writers"
    assert layer_of("etl_his_spark.session") == "session"
    assert layer_of("etl_his_spark.registry") is None
    assert layer_of("pyspark.sql") is None


def test_span_parents_and_self_time():
    t = Tracer("w")
    t.pass_id = 1
    with t.span("outer"):
        with t.span("a"):
            pass
        with t.span("b"):
            pass
    outer, a, b = t.spans
    assert (outer["parent"], a["parent"], b["parent"]) == (None, outer["id"], outer["id"])
    assert all(s["pass"] == 1 and s["workload"] == "w" for s in t.spans)
    add_self_times(t.spans)
    children = [(a["start"], a["end"]), (b["start"], b["end"])]
    assert outer["self"] == self_time(outer["start"], outer["end"], children)
    assert a["self"] == a["end"] - a["start"]


def _fake_layer_modules():
    impl = types.ModuleType("etl_his_spark.operators._pb_fake_impl")
    exec("def double(x):\n    return 2 * x\n", impl.__dict__)
    impl.double.__module__ = impl.__name__
    user = types.ModuleType("etl_his_spark.plans._pb_fake_user")
    user.double = impl.double                      # a `from impl import double` binding
    user.TABLE = {"d": impl.double}                # a registry-style binding
    return impl, user


def test_install_wraps_every_binding_and_uninstall_restores():
    impl, user = _fake_layer_modules()
    original = impl.double
    sys.modules[impl.__name__] = impl
    sys.modules[user.__name__] = user
    t = Tracer("w")
    try:
        t.install()
        assert impl.double is user.double is user.TABLE["d"]
        assert impl.double is not original
        assert user.TABLE["d"](4) == 8
        # a closure shipped to a worker carries the plain function by reference
        blob = cloudpickle.dumps(lambda v: impl.double(v))
    finally:
        t.uninstall()
        del sys.modules[impl.__name__], sys.modules[user.__name__]
    assert impl.double is original and user.double is original and user.TABLE["d"] is original
    assert [s["name"] for s in t.spans] == ["operators._pb_fake_impl.double"]
    sys.modules[impl.__name__] = impl
    try:
        assert pickle.loads(blob)(5) == 10
    finally:
        del sys.modules[impl.__name__]
