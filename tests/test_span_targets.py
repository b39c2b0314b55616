"""The benchmark's tracer wraps package functions by (module, attribute) —
``exbench/layers.py`` ``SPAN_TARGETS`` — and raises at install when one is
gone, so a refactor that drops or renames a traced name would first fail in
a ``--trace 1`` run.  This pins every target in the default tier instead.
No Spark session is started: the modules are only imported."""

import importlib.util
import os

LAYERS_PY = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "exbench",
    "layers.py",
)


def test_every_span_target_resolves():
    spec = importlib.util.spec_from_file_location("exbench_layers", LAYERS_PY)
    layers = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(layers)
    assert layers.SPAN_TARGETS
    missing = [
        f"{module}.{attr}"
        for module, attr, _layer in layers.SPAN_TARGETS
        if not callable(getattr(layers._resolve(module), attr, None))
    ]
    assert not missing, f"traced names gone: {missing}"
