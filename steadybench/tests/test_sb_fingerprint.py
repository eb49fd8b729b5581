import numpy as np
import pandas as pd
import fingerprint as fp


def _df():
    return pd.DataFrame({
        "k": np.array([3, 1, 2], dtype=np.int32),
        "v": [0.5, -0.0, 2.25],
        "s": ["x", None, "z"],
        "arr": [np.array([1, 2]), np.array([], dtype=np.int64), None],
    })


def test_order_and_column_order_do_not_matter():
    df = _df()
    shuffled = df.iloc[[2, 0, 1]][["v", "arr", "s", "k"]].reset_index(drop=True)
    assert fp.fingerprint(df) == fp.fingerprint(shuffled)


def test_int_width_and_signed_zero_are_normalised():
    wide = _df().assign(k=lambda d: d.k.astype("int64"), v=lambda d: d.v.abs())
    assert fp.fingerprint(wide)["hash"] == fp.fingerprint(_df())["hash"]


def test_lists_hash_like_arrays():
    listy = _df().assign(arr=[[1, 2], [], None])
    assert fp.fingerprint(listy)["hash"] == fp.fingerprint(_df())["hash"]


def test_multiplicity_and_values_matter():
    df = _df()
    assert fp.fingerprint(pd.concat([df, df.iloc[[0]]]))["hash"] != fp.fingerprint(df)["hash"]
    assert fp.fingerprint(df.assign(v=[0.5, 0.0, 2.250000001]))["hash"] != fp.fingerprint(df)["hash"]


def test_check_hash_and_rows_only():
    got = fp.fingerprint(_df())
    assert fp.check("q", got, {"q": {"rows": 3, "hash": got["hash"]}}) is None
    assert "fingerprint" in fp.check("q", got, {"q": {"rows": 3, "hash": "0" * 20}})
    assert fp.check("q", got, {"q": {"rows": 3, "hash": None}}) is None
    assert "row count" in fp.check("q", got, {"q": {"rows": 4, "hash": None}})
    assert fp.check("q", got, {}) == "no committed expectation"


class _FakeSC:
    def __init__(self):
        self.groups = []
        jmap = type("M", (), {"size": lambda self: 0})()
        self._jsc = type("J", (), {"getPersistentRDDs": lambda self: jmap})()

    def setJobGroup(self, group, desc):
        self.groups.append(group)


class _FakeSpark:
    def __init__(self):
        self.sparkContext = _FakeSC()
        self.streams = type("S", (), {"active": []})()


class _FakeDF:
    def toPandas(self):
        return _df()


def test_wrong_fingerprint_is_a_counted_failure():
    import argparse

    import run

    args = argparse.Namespace(workload="corpus_dedup", trace=0,
                              inject_wrong_fingerprint="q_neardup_ngram")
    r = run.Run(args, "/nonexistent", "/nonexistent")
    r.spark = _FakeSpark()
    r.drain = lambda blocking: 0
    spec = type("Spec", (), {"fn": staticmethod(lambda spark, d: _FakeDF())})()
    r.expected["q_ok"] = {"rows": 3, "hash": fp.fingerprint(_df())["hash"]}
    r.specs = {"q_neardup_ngram": spec, "q_ok": spec}
    assert r.one("q_ok", 0, check=True, traced=False) is not None
    assert r.one("q_neardup_ngram", 0, check=True, traced=False) is None
    assert r.attempted == 2
    assert [f["query"] for f in r.failures] == ["q_neardup_ngram"]
    assert "fingerprint" in r.failures[0]["reason"]
    assert r.spark.sparkContext.groups[:2] == ["q:q_ok:mk#0", "q:q_ok:action#0"]
