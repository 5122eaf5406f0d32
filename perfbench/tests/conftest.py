def pytest_configure(config):
    config.addinivalue_line("markers", "smoke: runs the benchmark end to end on tiny inputs")
