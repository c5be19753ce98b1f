"""The benchmark's kernel replay (perfbench/layers.py) times the engine
by patching names in the modules that call them: ``fused._parse_batch``,
``fused.run_turn_arrays``, ``turnkernel.ocr_page_arrays`` and the
``kernels.<name>`` attributes. A kernel renamed, or imported by name
where the replay patches the module attribute, would leave its layer at
zero in every traced run without failing anything. No Spark."""

import importlib.util
import os

import pytest

from sparkextract import synth

LAYERS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                      "perfbench", "layers.py")


@pytest.fixture(scope="module")
def layers():
    spec = importlib.util.spec_from_file_location("perfbench_layers", LAYERS)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_replay_reaches_every_kernel_layer(layers):
    batch = synth.gen_transcripts(n_convs=6, seed=7, payload_prob=1.0)
    m = layers.replay([batch[["conv_id", "turn_idx", "text", "tool"]]])
    assert m["replay.turns"] > 0
    for key in ("parse.busy_s", "ocr.busy_s", "kernels.merge_para_busy_s",
                "kernels.nms_busy_s"):
        assert m[key] > 0, key
