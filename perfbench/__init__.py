"""KG-construction benchmark (see README.md); run ``perfbench/run.py``."""
