"""The drift-retrained perplexity-model env override and the --py-files
package zip."""

import os


def test_perplexity_model_env_override(tmp_path):
    import pandas as pd
    from data_quality_autohealer_spark.functions import perplexity as P

    retrained = P.PerplexityModel.train_texts(
        ["the zebra quokka axolotl wanders nightly"] * 5)
    path = str(tmp_path / "pplx.npz")
    retrained.save(path)
    try:
        os.environ[P.MODEL_PATH_ENV] = path
        P.reset_model_cache()
        m = P.get_model()
        # the override model knows the retrain corpus words; the seed model
        # treats them as OOV — log-pplx must be far lower under the override
        sample = pd.Series(["zebra quokka axolotl wanders nightly"])
        override_pplx = float(m.log_perplexity_series(sample)[0])
    finally:
        del os.environ[P.MODEL_PATH_ENV]
        P.reset_model_cache()
    seed_pplx = float(P.get_model().log_perplexity_series(
        pd.Series(["zebra quokka axolotl wanders nightly"]))[0])
    assert override_pplx < seed_pplx - 2.0


def test_pyfiles_zip_matches_package():
    """dist/dqa_spark.zip is build-on-demand (gitignored): the builder must
    package exactly the current package sources, byte-identical — a stale
    zip shipped to --py-files is a silent version skew (VERDICT r02 item 7)."""
    import os
    import zipfile

    from tools import make_pyfiles

    out = make_pyfiles.main()
    root = make_pyfiles.ROOT
    expected = {}
    for base, _, files in os.walk(os.path.join(root, make_pyfiles.PKG)):
        if "__pycache__" in base:
            continue
        for f in files:
            if f.endswith(".py"):
                full = os.path.join(base, f)
                expected[os.path.relpath(full, root)] = open(full, "rb").read()
    with zipfile.ZipFile(out) as z:
        got = {n: z.read(n) for n in z.namelist()}
    assert got == expected
