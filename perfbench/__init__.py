"""Layer-attributed benchmark for the extraction job and the incremental
wave; ``perfbench/run.py`` is the entry point."""
