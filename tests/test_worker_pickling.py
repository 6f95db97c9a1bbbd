"""Worker code ships to Python workers by value.

The package root registers the package with cloudpickle, so the plain
module functions the package hands to ``mapInPandas`` and
``applyInPandasWithState``, and the codecs they call, must run in a
Python process that cannot import the package. Tier-1 runs with the
repo as cwd, where Spark's workers can import the package by accident,
so this pins the contract without Spark: each callable is pickled with
pyspark's cloudpickle, loaded and run on a one-row batch in a
``python -I`` subprocess started from ``tmp_path`` (whose ``sys.path``
cannot see the repo), and its output must equal the in-process output.
"""

from __future__ import annotations

import ast
import inspect
import pickle
import subprocess
import sys

import numpy as np
import pandas as pd
from pyspark import cloudpickle

from dbt_jaffleshop_spark.llm import multimodal as mm
from dbt_jaffleshop_spark.llm.codecs import flac, gif, jpeg, png, wav
from dbt_jaffleshop_spark.streaming import sessionize

# executed in-process and in the subprocess, so both run a case alike
_RUN = '''
import pandas as pd


def run(kind, fn, data):
    if kind == "map":
        return pd.concat(
            [pd.concat(list(fn(iter([batch])))) for batch in data],
            ignore_index=True,
        )
    if kind == "state":
        key, events, state = data
        return pd.concat(list(fn(key, iter([events]), state))), state.updated
    return fn(*data)
'''

_SUBPROCESS = '''
import importlib.util
import pickle

assert importlib.util.find_spec("dbt_jaffleshop_spark") is None
cases = pickle.load(open("cases.pkl", "rb"))
pickle.dump({label: run(*case) for label, case in cases.items()},
            open("results.pkl", "wb"))
'''


class _Frame:
    """Stands in for the DataFrame ``_map_docs`` maps over: hands back
    the function it would give Spark."""

    def mapInPandas(self, fn, schema):
        return fn


def _handed_to_spark(module) -> dict:
    """{call site: (kind, callable)} for every callable ``module``
    passes to mapInPandas / applyInPandasWithState, evaluated from the
    call site's own expression in the module namespace. The per-document
    multimodal operators pass theirs through ``_map_docs``, evaluated
    over a stand-in frame."""
    tree = ast.parse(open(module.__file__).read())
    namespace = {**vars(module), "_frame": _Frame()}
    out = {}
    for fn in tree.body:
        if not isinstance(fn, ast.FunctionDef) or fn.name == "_map_docs":
            continue
        for node in ast.walk(fn):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            if isinstance(f, ast.Attribute) and f.attr == "mapInPandas":
                kind, expr = "map", node.args[0]
            elif isinstance(f, ast.Attribute) and f.attr == "applyInPandasWithState":
                kind, expr = "state", node.args[0]
            elif isinstance(f, ast.Name) and f.id == "_map_docs":
                kind = "map"
                expr = ast.Call(
                    f, [ast.Name("_frame", ast.Load()), *node.args[1:]], node.keywords
                )
            else:
                continue
            code = compile(
                ast.fix_missing_locations(ast.Expression(expr)), module.__file__, "eval"
            )
            out[f"{fn.name}:{node.lineno}"] = (kind, eval(code, namespace))
    return out


def _state(tail=None):
    # a local class: cloudpickle ships it by value like the package code
    class State:
        exists = tail is not None
        get = tail
        updated = None

        def update(self, value):
            self.updated = value

    return State()


def _codec_args() -> dict:
    gray = (np.arange(48).reshape(6, 8) * 5 % 256).astype(np.uint8)
    coefs = mm._jpeg_test_coefs(5, 2, 2)
    color = mm._jpeg_color_coefs(5, 2, 2)
    luma, chroma = mm._jpeg_420_coefs(5, 1, 1)
    bands = ((1, 5), (6, 63))
    gray_jpeg = jpeg.jpeg_encode_gray_coefs(coefs, 16, 16)
    color_jpeg = jpeg.jpeg_encode_progressive3_coefs(color, 16, 16, bands, 1)
    pcm = (np.arange(400).reshape(200, 2) * 37) % 4001 - 2000
    flac_bytes = flac.flac_encode(pcm, 8000, blocksize=64, stereo="mid_side")
    anim = [
        {"px": gray, "disposal": 1},
        {"px": gray[:3, :4], "left": 2, "interlace": True},
    ]
    return {
        "png_encode": (gray,),
        "png_encode_palette": (gray % 16, mm._PALETTE4, True, 4),
        "png_decode": (png.png_encode(gray, interlace=True),),
        "gif_encode_frames": ([gray, gray[::-1]],),
        "gif_decode_frames": (gif.gif_encode_frames([gray, gray[::-1]]),),
        "gif_encode_animation": (8, 6, mm._gray_palette(0), 0, anim),
        "gif_decode_rgb": (
            gif.gif_encode_animation(8, 6, mm._gray_palette(9), 0, anim),
        ),
        "jpeg_encode_gray_coefs": (coefs, 16, 16),
        "jpeg_encode_color_coefs": (color, 16, 16),
        "jpeg_encode_sampled_coefs": (luma, chroma, 16, 16, 2, 2, 1),
        "jpeg_encode_420_coefs": (luma, chroma, 16, 16),
        "jpeg_encode_progressive_coefs": (coefs, 16, 16, bands, 1),
        "jpeg_encode_progressive3_coefs": (color, 16, 16, bands, 1),
        "jpeg_encode_progressive_sampled_coefs": (
            luma, chroma, 16, 16, 2, 2, bands, 2, 1
        ),
        "jpeg_parse_any": (color_jpeg,),
        "jpeg_parse_gray": (gray_jpeg,),
        "jpeg_decode_gray": (gray_jpeg,),
        "jpeg_decode_color": (color_jpeg,),
        "flac_encode": (pcm, 8000, 16, 64, "left_side"),
        "flac_decode": (flac_bytes, True),
        "parse_flac": (flac_bytes,),
        "pcm_features": (pcm.reshape(-1), 2, 8000),
        "parse_wav": (next(mm._wav_synth_rows(5, 100))["payload"],),
    }


def _cases() -> dict:
    cases = {}
    doc = {"doc_id": [5], "n_bytes": [100], "media_type": ["audio"]}
    batches = [
        pd.DataFrame({**doc, "payload": [next(synth(5, 100))["payload"]]})
        for synth in (mm._wav_synth_rows, mm._flac_synth_rows)
    ]
    workers = _handed_to_spark(mm)
    assert len(workers) >= 20  # every multimodal operator stage
    workers |= _handed_to_spark(sessionize)
    events = pd.DataFrame(
        {"event_id": [3], "user_id": [7], "event_type": ["view"],
         "ts_us": [10_000_000], "value_cents": [250]}
    )
    for site, (kind, fn) in workers.items():
        if kind == "map":
            cases[site] = ("map", fn, batches)
        else:  # a new user, and one continuing an open session
            cases[site] = ("state", fn, ((7,), events, _state()))
            tail = (2, 9_000_000, 9_500_000, 4, 100, "click")
            cases[site + ":open"] = ("state", fn, ((7,), events, _state(tail)))
    assert any(kind == "state" for kind, _ in workers.values())

    args = _codec_args()
    public = {
        name
        for module in (flac, gif, jpeg, png, wav)
        for name, f in vars(module).items()
        if inspect.isfunction(f) and f.__module__ == module.__name__
        and not name.startswith("_")
    }
    assert set(args) == public, "give every public codec function a case"
    for name, data in args.items():
        module = next(m for m in (flac, gif, jpeg, png, wav) if hasattr(m, name))
        cases[name] = ("call", getattr(module, name), data)
    return cases


def _assert_same(got, want, label):
    if isinstance(want, pd.DataFrame):
        assert len(want), f"{label}: produced no rows"
        pd.testing.assert_frame_equal(got, want, obj=label)
    elif isinstance(want, tuple | list) and any(
        isinstance(w, pd.DataFrame) for w in want
    ):
        for g, w in zip(got, want, strict=True):
            _assert_same(g, w, label)
    else:
        np.testing.assert_equal(got, want, err_msg=label)


def test_worker_code_runs_where_the_package_cannot_be_imported(tmp_path):
    assert "dbt_jaffleshop_spark" in cloudpickle.list_registry_pickle_by_value()
    cases = _cases()
    (tmp_path / "cases.pkl").write_bytes(cloudpickle.dumps(cases))
    (tmp_path / "run.py").write_text(_RUN + _SUBPROCESS)
    proc = subprocess.run(
        [sys.executable, "-I", "run.py"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = pickle.loads((tmp_path / "results.pkl").read_bytes())
    ns: dict = {}
    exec(_RUN, ns)
    for label, case in cases.items():
        _assert_same(got[label], ns["run"](*case), label)
